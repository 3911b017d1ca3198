"""Text-analysis operators for training-data pipelines (BASELINE.json
north star): tokenization, quality scoring, language-ID heuristic,
document fingerprinting. All native expressions — at 100 TB these run
embarrassingly parallel inside the scan stage, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.functions.hashing import md5_long
from nyc_opendata_etl_spark.functions.normalize import PY_WS_JAVA
from nyc_opendata_etl_spark.sources.batch_log import commit, current_dir

# Python-whitespace split (exact str.strip class — see normalize.PY_WS_JAVA,
# mirrored in the DuckDB oracles via queries/_sql.PY_WS_RE2).
TOKEN_SPLIT_RE = f"[{PY_WS_JAVA}]+"
# BPE-ish word/number/punct segmentation used for token estimates.
BPE_ISH_RE = f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{PY_WS_JAVA}]"


def canon_text(col: Column | str) -> Column:
    """Whitespace-canonical lowercase text (the dedup canonical form):
    strip the full Python whitespace set (PY_WS_JAVA — F.trim alone
    strips only ASCII spaces, leaving e.g. a leading tab as a residual
    leading space and an empty first shingle token), then collapse
    interior runs to single spaces. Mirrored by the _CANON fragment in
    queries/llm_ops.py.

    Cross-engine determinism scope (r16 adjudication): the canonical
    form is promised byte-identical across the three engines (Spark
    JVM ``lower()``, Python ``str.lower()``, DuckDB utf8proc) only for
    codepoints ASSIGNED in every engine's Unicode snapshot. Codepoints
    unassigned in the oldest snapshot (Python 3.11 = Unicode 14.0;
    ``unicodedata.category(c) == 'Cn'``) are excluded: their case
    mappings are snapshot-dependent by construction (a full 0..0x10FFFF
    sweep found exactly 27 divergent codepoints — U+1C89, U+A7CB/CC/
    DA/DC, U+10D50–65, all Unicode 15.1/16 additions — and ALL are Cn
    in Python; no assigned codepoint diverges, per Unicode's case-pair
    stability in practice). Pinned by
    tests/test_properties.py::test_lower_divergence_class_is_unassigned;
    the property generators draw from the assigned-codepoint domain."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(
        F.lower(c), f"^[{PY_WS_JAVA}]+|[{PY_WS_JAVA}]+$", ""
    )
    return F.regexp_replace(stripped, TOKEN_SPLIT_RE, " ")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, TOKEN_SPLIT_RE), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token-count estimate from a BPE-like regex segmentation
    (letters / digit runs / single punctuation). NULL text → NULL
    (``size`` alone reports legacy -1 on null input, which both the
    DuckDB oracles — ``len(regexp_extract_all(NULL)) IS NULL`` — and
    the Arrow-batched twin disagree with)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_RE), 0))
    return F.when(c.isNotNull(), n)


def pandas_bpe_ish_token_count(col: Column | str) -> Column:
    """Arrow-batched token-cost column: the SAME BPE-ish segmentation as
    :func:`bpe_ish_token_count`, executed as a vectorized pandas UDF —
    the integration slot a REAL subword tokenizer occupies in a
    production packing pipeline (replace the ``str.count`` with
    ``tokenizer.encode_batch`` over the Arrow batch; this container
    ships no tokenizer lib, so the deterministic regex stands in while
    the Spark plumbing — Arrow batch transfer, nullable long output,
    scan-stage placement — is real and pinned bit-equal to the
    expression twin by tests and the corpus_pack_bins_tokenized
    oracle). The pattern string is dual-dialect by construction: only
    character classes, ranges, and alternation (``\\t`` ``\\xhh``
    ``\\uhhhh`` escapes mean the same in java.util.regex and Python
    ``re``), so JVM and Python segment identically."""
    import pandas as pd  # noqa: F401 — worker-side import
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _count(texts):  # pd.Series -> pd.Series
        # REAL-TOKENIZER SLOT: return pd.Series(
        #     [len(ids) for ids in tokenizer.encode_batch(texts.fillna("").tolist())]
        # ) with null masking; the regex twin keeps null -> null parity
        # with size(regexp_extract_all(...)) on the JVM side.
        return texts.str.count(BPE_ISH_RE).astype("Int64")

    c = F.col(col) if isinstance(col, str) else col
    return _count(c)


# ──────────────────────────────────────────────────────────────────────
# Real BPE (staged merges table): Sennrich et al. 2016, learned from
# word frequencies, applied as rank-ordered merge passes. Two engine-
# portability restrictions, both pinned by tests:
#
# - merges never have left == right, so all occurrences of a pair in
#   one pass are non-overlapping and "replace every occurrence" is a
#   position-local rule — exactly what the DuckDB oracle's indexed-
#   lambda list transform replays (queries/llm_ops._BPE_PASS_SQL);
# - apply = one full pass per merge IN RANK ORDER, which equals the
#   classic lowest-rank-present-first apply: a merge's constituents
#   exist before it is learned, so any pair created by applying rank r
#   contains the rank-r composite and therefore has rank > r — no
#   earlier-rank pair can ever (re)appear after its pass.
# ──────────────────────────────────────────────────────────────────────


def load_bpe_merges() -> list[tuple[str, str]]:
    """The shipped merges-table fixture (resources/bpe_merges.json) —
    learned once from the sf0.1 documents corpus by
    :func:`learn_bpe_merges` (provenance recorded in the file). Shipped
    rather than staged per-run so the DuckDB oracle can embed the SAME
    table as a VALUES relation: tokenizer vocabularies are deployment
    constants, not per-corpus derivations."""
    import json
    from pathlib import Path

    p = Path(__file__).resolve().parent.parent / "resources" / "bpe_merges.json"
    doc = json.loads(p.read_text())
    return [tuple(m) for m in doc["merges"]]


def learn_bpe_merges(
    docs,
    text_col: str = "text",
    n_merges: int = 128,
    top_words: int = 4096,
) -> list[tuple[str, str]]:
    """Learn a deterministic BPE merges table from the corpus.

    The distributed part is one word-frequency aggregate over the
    BPE_ISH_RE pretokens with a bounded top-k (count desc, word asc —
    TakeOrderedAndProject, never a full sort); the pair-merge loop then
    runs driver-side over that BOUNDED frequency table — the standard
    BPE training shape (the loop is over the vocab, not the corpus, so
    100 TB changes only the one aggregate). Determinism: ties in pair
    frequency break lexicographically; self-pairs (left == right) are
    skipped (see module note); learning stops early when the best pair
    occurs < 2 times."""
    wf_rows = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_RE), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(top_words)
        .collect()  # bounded by construction: ≤ top_words rows
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["word"]): r["n"] for r in wf_rows if r["word"]
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                if syms[i] != syms[i + 1]:  # self-pairs excluded
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        x, y = best
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + n
        vocab = new_vocab
    return merges


def bpe_word_token_count(word: str, merges: list[tuple[str, str]]) -> int:
    """Reference BPE apply for ONE word: one full pass per merge in
    rank order (the formulation the DuckDB oracle replays level by
    level). Kept dead simple — the pandas UDF uses the equivalent
    lowest-rank-present-first loop for speed, and tests pin the two
    equal on random inputs."""
    syms = list(word)
    for x, y in merges:
        if len(syms) < 2:
            break
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def pandas_bpe_token_count(
    col: Column | str, merges: list[tuple[str, str]]
) -> Column:
    """REAL subword token count as an Arrow-batched pandas UDF: the
    staged-merges BPE now occupies the tokenizer slot that
    :func:`pandas_bpe_ish_token_count` stubbed with the bare regex —
    pretokenize with the dual-dialect BPE_ISH_RE, BPE-merge each
    pretoken against the (broadcast-by-closure) merges table, sum.
    NULL text → NULL, same contract as the regex twin.

    Hot-path shape: the merges list is O(100) entries riding the
    serialized UDF; per-batch work is dominated by the per-DISTINCT-
    word merge loop thanks to a worker-side word→count cache (Zipf
    makes the distinct set tiny relative to token volume; the cache is
    capped so a pathological corpus can't grow it unboundedly). Apply
    order is lowest-rank-present-first, provably equal to the oracle's
    rank-ordered passes (module note)."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ranks = {p: r for r, p in enumerate(merges)}
    pat_src = BPE_ISH_RE

    @pandas_udf("long")
    def _count(texts):  # pd.Series -> pd.Series
        pat = re.compile(pat_src)
        cache: dict[str, int] = {}

        def word_count(w: str) -> int:
            n = cache.get(w)
            if n is not None:
                return n
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
                out: list[str] = []
                i = 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                        out.append(x + y)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            n = len(syms)
            if len(cache) > 1_000_000:
                cache.clear()
            cache[w] = n
            return n

        def text_count(t):
            if t is None:
                return None
            return sum(word_count(w) for w in pat.findall(t))

        return pd.Series(
            [text_count(t) for t in texts], dtype="Int64"
        )

    c = F.col(col) if isinstance(col, str) else col
    return _count(c)


def bpe_vocab_ids(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic token→id map for a merges table: single-character
    symbols get their Unicode codepoint (mirrored by DuckDB's
    ``unicode()``), merge composites get ``1_000_000 + rank`` (min rank
    when two merges produce the same string, e.g. (a,bc) and (ab,c)
    both yielding 'abc') — the offset keeps composite ids disjoint from
    every codepoint. Every symbol a BPE apply can emit is covered: it
    is either one char or the output of some merge."""
    vocab: dict[str, int] = {}
    for r, (x, y) in enumerate(merges):
        tok = x + y
        if tok not in vocab:
            vocab[tok] = 1_000_000 + r
    return vocab


def pandas_bpe_encode(
    col: Column | str, merges: list[tuple[str, str]], head: int = 32
) -> Column:
    """REAL BPE ENCODING as an Arrow-batched pandas UDF:
    ``struct<n_tokens: long, ids_head: string>`` — the total token
    count plus the first ``head`` token IDS space-joined (scalar
    output, per the driver's no-array contract). Token order is
    pretoken order × symbol order within each pretoken, exactly what
    the training pipeline emits; the id scheme is
    :func:`bpe_vocab_ids`. Shares the merge loop + distinct-word cache
    shape with :func:`pandas_bpe_token_count` but caches the SYMBOL
    LIST so the encoder pays the merge loop once per distinct word.
    NULL text → NULL struct fields."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ranks = {p: r for r, p in enumerate(merges)}
    comp_ids = bpe_vocab_ids(merges)
    pat_src = BPE_ISH_RE

    @pandas_udf("n_tokens long, ids_head string")
    def _enc(texts):  # pd.Series -> pd.DataFrame
        pat = re.compile(pat_src)
        cache: dict[str, list[int]] = {}

        def word_ids(w: str) -> list[int]:
            ids = cache.get(w)
            if ids is not None:
                return ids
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
                out: list[str] = []
                i = 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                        out.append(x + y)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            ids = [
                comp_ids[s] if len(s) > 1 else ord(s) for s in syms
            ]
            if len(cache) > 1_000_000:
                cache.clear()
            cache[w] = ids
            return ids

        n_col, head_col = [], []
        for t in texts:
            if t is None:
                n_col.append(None)
                head_col.append(None)
                continue
            ids: list[int] = []
            n = 0
            for w in pat.findall(t):
                wi = word_ids(w)
                n += len(wi)
                if len(ids) < head:
                    ids.extend(wi)
            n_col.append(n)
            head_col.append(" ".join(str(i) for i in ids[:head]))
        return pd.DataFrame(
            {"n_tokens": pd.array(n_col, dtype="Int64"), "ids_head": head_col}
        )

    c = F.col(col) if isinstance(col, str) else col
    return _enc(c)


def quality_features(col: Column | str) -> dict[str, Column]:
    """Deterministic quality-scoring features: length, token stats,
    punctuation/digit/whitespace ratios, mean token length."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    toks = tokens(c)
    n_tokens = F.size(toks)
    n_punct = F.length(c) - F.length(
        F.regexp_replace(c, f"[^\\w{PY_WS_JAVA}]", "")
    )
    n_digits = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": F.round(n_punct / safe_chars, 6),
        "digit_ratio": F.round(n_digits / safe_chars, 6),
        "mean_token_len": F.round(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            )
            / F.greatest(n_tokens, F.lit(1)).cast("double"),
            6,
        ),
    }


# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and SQL-expressible (the oracle mirrors it).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "de"],
}


def stopword_hits(col: Column | str, words: list[str]) -> Column:
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5-derived 10^9-space hash of the
    whitespace-canonicalized, lowercased text (stable dedup id)."""
    return md5_long(canon_text(col))


ROLLING_BASE = 31
ROLLING_MOD = 1_000_000_000


def rolling_hash(col: Column | str) -> Column:
    """Order-sensitive polynomial rolling hash over lowercased tokens:
    ``h = fold(tokens, 0, (a, t) -> (a*31 + md5_long(t)) % 10^9)``.

    Unlike :func:`fingerprint` (whole-text hash), this is a sequence
    hash — permuted token order changes it — the standard shape for
    incremental/windowed fingerprinting. Every intermediate stays below
    31·10^9 + 10^9 < 2^63, so the identical fold is expressible in
    DuckDB (``list_reduce``) for the differential oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))
    return F.aggregate(
        F.transform(toks, lambda t: md5_long(t)),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * ROLLING_BASE + h) % ROLLING_MOD,
    )


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    round_digits: int = 6,
):
    """Top-k characteristic terms per document by TF-IDF.

    tf = term count within the doc; idf = ln(N / df) with df = number of
    docs containing the term. Deterministic tie-break (score desc, term
    asc) so results are engine-independent. Plan shape: one explode →
    two hash aggregates (term-per-doc, then doc-frequency) → broadcast
    of the tiny (term, df) side → per-doc top-k via window. The doc
    count N is a broadcast scalar, not a driver-side collect.
    """
    from pyspark.sql import Window

    term_tf = (
        df.select(
            F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    doc_freq = term_tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(
        F.countDistinct(id_col).alias("__n_docs__")
    )
    # doc_freq (the vocabulary) scales with the corpus — no broadcast
    # hint; the shuffle join on term is already the partitioning term_tf
    # has, and Catalyst still broadcasts small vocabularies from stats.
    scored = (
        term_tf.join(doc_freq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("__n_docs__") / F.col("df")), round_digits
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


def _lang_decision(en: Column, de: Column, fr: Column, es: Column) -> Column:
    """Fixed-priority language decision (en > de > fr > es > unknown)
    over per-language stopword hit counts."""
    return (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de >= es) & (de > 0), F.lit("de"))
        .when((fr >= es) & (fr > 0), F.lit("fr"))
        .when(es > 0, F.lit("es"))
        .otherwise(F.lit("unknown"))
    )


def token_lang_features(col: Column | str) -> Column:
    """``struct<n_tokens: long, en_hits..es_hits: int, lang: string>``
    from ONE whitespace tokenization of the lowered text. The raw hit
    counts ride along with the decision because aggregation call sites
    need them: every field here is constant within a canon-hash
    duplicate group, and LONG mins hash-aggregate while a string/struct
    min falls back to SortAggregate — so a collapse aggregates the
    numeric fields and re-derives ``lang`` post-agg via
    :func:`lang_decision`.

    The naive composition (``token_count`` + ``detected_lang`` via
    ``stopword_hits`` per language) re-runs the full-text regex split
    5× per document, and the decision when-chain references each hit
    count ~3× more. Both sharings use the ``word_shingles`` binding
    pattern (single-element ``transform``): HOF lambda bodies are
    evaluated interpreted, without codegen's common-subexpression
    elimination, so the ONLY way to guarantee an expression runs once
    is to materialize it as a lambda variable — the outer transform
    binds the token array (the regex pass), the inner one binds the
    five counts (array membership scans), and the decision reads
    materialized fields. Token count is taken on the lowered split,
    which is identical to the raw split (lowercasing never changes the
    whitespace class)."""
    c = F.col(col) if isinstance(col, str) else col

    def member(words: list[str]):
        # closure factory, NOT a default-arg lambda: pyspark dispatches
        # HOF lambdas by arity, so a second (defaulted) parameter would
        # silently receive the element index.
        wt = tuple(words)
        return lambda x: x.isin(*wt)

    def counts(toks: Column) -> Column:
        return F.struct(
            F.size(toks).cast("long").alias("n_tokens"),
            *[
                F.size(F.filter(toks, member(words))).alias(f"{lang}_hits")
                for lang, words in STOPWORDS.items()
            ],
        )

    return F.transform(
        F.array(tokens(F.lower(c))),
        lambda toks: F.transform(
            F.array(counts(toks)),
            lambda h: F.struct(
                h["n_tokens"].alias("n_tokens"),
                h["en_hits"].alias("en_hits"),
                h["de_hits"].alias("de_hits"),
                h["fr_hits"].alias("fr_hits"),
                h["es_hits"].alias("es_hits"),
                _lang_decision(
                    h["en_hits"], h["de_hits"], h["fr_hits"], h["es_hits"]
                ).alias("lang"),
            ),
        )[0],
    )[0]


def lang_decision(en: Column, de: Column, fr: Column, es: Column) -> Column:
    """Public alias of the fixed-priority decision, for call sites that
    aggregate the hit counts and re-derive the language post-agg."""
    return _lang_decision(en, de, fr, es)


def detected_lang(col: Column | str) -> Column:
    """Stopword-hit language id with fixed priority tie-break
    (en > de > fr > es > unknown) — the deterministic heuristic shared
    by the lang-id query and corpus curation. One tokenization pass
    (see :func:`token_lang_features`)."""
    return token_lang_features(col)["lang"]


def bm25_scores(
    df,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """BM25 document ranking for a bag-of-terms query — the sparse
    (lexical) retrieval half of a hybrid search stack, complementing the
    dense ANN operators. Robertson idf with the +1 guard:
    ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))``, saturation
    ``tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))``.

    Scale shape: the token explode is filtered to the query terms AT the
    scan stage (the inverted-index probe a real engine does with a
    posting list), so only matching (doc, term) rows ever aggregate; the
    (term, df) relation is |query| rows and broadcasts, corpus stats are
    a broadcast scalar, and the top-k is TakeOrderedAndProject.
    Determinism: each term's contribution is rounded to 9 dp and folded
    through DECIMAL(28,12), so per-doc scores are order-independent and
    the full ranking replays in DuckDB."""
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term").isin(query_terms))
    dl = df.select(
        F.col(id_col), F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n")
    idf = F.log(
        1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    contrib = F.round(
        idf * F.col("tf") * (k1 + 1) / denom, 9
    ).cast("decimal(28,12)")
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), contrib.alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("double").alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), id_col).limit(k)


def rrf_fuse(ranked_a, ranked_b, k: int = 60, topk: int = 20, id_col: str = "doc_id"):
    """Reciprocal-rank fusion of two rankings:
    ``rrf(d) = Σ_r 1/(k + rank_r(d))`` over the rankers that returned
    ``d`` — the standard score-free way to combine retrieval backends
    (lexical + semantic, or any two) without calibrating their score
    scales. Inputs: DataFrames carrying ``(id_col, rank)`` with rank
    1-based. A doc absent from one ranking simply contributes nothing
    for it (the top-N cutoff a real system applies per backend).

    Shape: one full-outer join of two top-N relations (both bounded by
    their cutoffs → broadcastable), fixed-order sum of two exact
    reciprocals rounded to 6 dp — deterministic across engines."""
    from pyspark.sql import functions as F

    a = ranked_a.select(F.col(id_col), F.col("rank").alias("rank_a"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("rank_b"))
    fused = a.join(b, id_col, "full_outer").select(
        F.col(id_col),
        "rank_a",
        "rank_b",
        F.round(
            F.coalesce(1.0 / (k + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (k + F.col("rank_b")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), id_col).limit(topk)


def rerank_interaction(
    candidates,
    docs,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    topk: int = 10,
):
    """Cross-encoder-style rerank of a bounded candidate set — the
    final stage of the retrieval stack (sparse BM25 + dense ANN →
    RRF fusion → rerank).

    A production reranker runs a (query, document) cross-encoder model
    over each candidate pair; the architecture that makes that viable
    at 100 TB is exactly this one: the expensive per-pair scorer sees
    ONLY the fused top-k (bounded, broadcastable), never the corpus, so
    its cost is O(k) model calls independent of corpus size — it would
    slot in here as an Arrow-batched Pandas UDF over the same joined
    frame. This implementation stands in a deterministic interaction-
    feature scorer (the classic hand-rolled cross-features a learned
    reranker subsumes) so the differential oracle can replay the rerank
    bit-for-bit:

    * ``coverage`` — fraction of query terms present in the doc (the
      AND-ness signal rank fusion loses);
    * saturated term frequency — Σ_t ln(1 + tf_t), rounded to 9 dp
      before summing (cross-engine float discipline, as bm25_scores);
    * ``proximity`` — 1/(1 + span) where span is the distance between
      the earliest and latest FIRST occurrences of the present terms
      (all present terms within a tight window ⇒ near 1);
    * ``earliness`` — 1/(1 + first_pos): title/lead matches outrank
      deep-tail mentions.

    score = round(2·coverage + Σ ln(1+tf) + proximity + earliness, 6).

    Shape: candidates (≤ tens of rows) BROADCAST to the documents scan
    — one joined pass computes every feature from the token array
    inside the scan stage; the final sort is over ≤ |candidates| rows
    (TakeOrderedAndProject). Tokenization mirrors the index build
    (``tokens(lower(text))``) so tf here equals tf in the postings.

    Output: candidate columns + (coverage, tf_score, proximity,
    earliness, rerank_score, rerank) — top ``topk`` by (score DESC, id).
    """
    from pyspark.sql import Window

    toks = tokens(F.lower(F.col(text_col)))
    feat = docs.join(F.broadcast(candidates), id_col).select(
        *[F.col(c) for c in candidates.columns],
        toks.alias("__toks__"),
    )
    # NB: the term must be captured via a closure factory, not a lambda
    # default arg — a second parameter (even defaulted) makes PySpark
    # treat the lambda as the (element, index) form and bind the INDEX
    # to it.
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    tf_cols = []
    fp_cols = []
    for i, t in enumerate(terms):
        feat = feat.withColumn(
            f"__tf_{i}__",
            F.size(F.filter("__toks__", _eq(t))).cast("long"),
        ).withColumn(f"__fp_{i}__", F.array_position("__toks__", F.lit(t)))
        tf_cols.append(f"__tf_{i}__")
        fp_cols.append(f"__fp_{i}__")

    n_present = sum(
        [F.when(F.col(c) > 0, 1).otherwise(0) for c in tf_cols], F.lit(0)
    )
    coverage = F.round(n_present / F.lit(len(terms)), 9)
    tf_score = sum(
        [
            F.round(F.log(1.0 + F.col(c).cast("double")), 9).cast(
                "decimal(28,12)"
            )
            for c in tf_cols
        ],
        F.lit(0).cast("decimal(28,12)"),
    ).cast("double")
    present_fps = F.filter(
        F.array(*[F.col(c) for c in fp_cols]), lambda x: x > 0
    )
    first_pos = F.array_min(present_fps)
    span = F.array_max(present_fps) - F.array_min(present_fps)
    proximity = F.when(
        F.size(present_fps) > 0, F.round(1.0 / (1.0 + span), 9)
    ).otherwise(F.lit(0.0))
    earliness = F.when(
        F.size(present_fps) > 0, F.round(1.0 / (1.0 + first_pos), 9)
    ).otherwise(F.lit(0.0))

    scored = feat.select(
        *[F.col(c) for c in candidates.columns],
        coverage.alias("coverage"),
        tf_score.alias("tf_score"),
        proximity.alias("proximity"),
        earliness.alias("earliness"),
        F.round(
            2.0 * coverage + tf_score + proximity + earliness, 6
        ).alias("rerank_score"),
    )
    w = Window.orderBy(F.col("rerank_score").desc(), id_col)
    return (
        scored.withColumn("rerank", F.row_number().over(w).cast("int"))
        .orderBy("rerank")
        .limit(topk)
    )


# ──────────────────────────────────────────────────────────────────────
# Staged inverted index: build once at write time, probe per query.
#
# bm25_scores above tokenizes and explodes the ENTIRE corpus on every
# execution to probe a handful of terms — correct, but an unpruned full
# scan per query, which is exactly the work a real retrieval engine
# moves to write time as a posting list. build_text_index materializes
# that index as three parquet tables; the *_indexed probes below read
# only the postings whose term matches the query (file-pruned by the
# term-sorted layout + pushed predicate), so query cost is bounded by
# |query terms| × |matching docs| — independent of corpus size.
# ──────────────────────────────────────────────────────────────────────


def build_text_index(
    docs,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_files: int = 8,
) -> None:
    """Materialize the inverted index for BM25/TF-IDF retrieval:

    - ``postings/``: one row per (term, doc, tf), carrying the doc
      length DENORMALIZED (``dl``) so the probe never joins an
      N-row doc-length relation — parquet dictionary/RLE encoding makes
      the repeated dl near-free. Range-partitioned and sorted by term,
      so every file's footer min/max bounds a narrow term range and a
      term-equality probe skips most files before reading a byte.
    - ``vocab/``: (term, df) — the dictionary; |V| rows, probe-side it
      filters to the query terms and broadcasts.
    - ``stats/``: one row (n docs, total length) for the BM25 length
      normalization.

    All stored quantities are exact integers, so an indexed probe is
    bit-identical to the corpus-scan formulation over the same corpus.
    Scale shape: one explode + two map-side-combined aggregates and one
    shuffle join on the doc id — paid once per corpus version, like any
    lake write; the range exchange on term is the clustering the probes
    amortize."""
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = docs.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("dl"),
    )

    def write(new: str) -> None:
        (
            tf.join(dl, id_col)
            .repartitionByRange(num_files, "term")
            .sortWithinPartitions("term", id_col)
            .write.parquet(f"{new}/postings")
        )
        vocab = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
        vocab.coalesce(1).write.parquet(f"{new}/vocab")
        stats = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        stats.coalesce(1).write.parquet(f"{new}/stats")

    commit(path, write)


def _probe_postings(spark, index_path: str, query_terms: list[str]):
    """(postings ∩ terms, vocab ∩ terms, stats) — the index-probe scans.
    The term predicate pushes into both parquet scans; on the
    term-sorted postings layout it prunes whole files from footer
    stats."""
    cur = current_dir(index_path)
    post = spark.read.parquet(f"{cur}/postings").filter(
        F.col("term").isin(query_terms)
    )
    vocab = spark.read.parquet(f"{cur}/vocab").filter(
        F.col("term").isin(query_terms)
    )
    stats = spark.read.parquet(f"{cur}/stats")
    return post, vocab, stats


def bm25_topk_indexed(
    spark,
    index_path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    id_col: str = "doc_id",
):
    """BM25 top-k as an INDEX PROBE against a build_text_index layout —
    same scores as bm25_scores (identical formula over identical exact
    integers; each term contribution 9-dp-rounded and folded through
    DECIMAL(28,12)), but the plan reads only the query terms' postings:
    pushed term predicate + file pruning on the term-sorted layout,
    |query|-row vocab broadcast, 1-row stats broadcast,
    TakeOrderedAndProject for the top-k. Nothing scales with corpus
    size except the pruned posting scan itself."""
    post, vocab, stats = _probe_postings(spark, index_path, query_terms)
    avgdl = F.col("sum_dl").cast("double") / F.col("n")
    idf = F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)
    contrib = F.round(idf * F.col("tf") * (k1 + 1) / denom, 9).cast(
        "decimal(28,12)"
    )
    scored = (
        post.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), contrib.alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").cast("double").alias("bm25"),
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), id_col).limit(k)


def tfidf_topk_indexed(
    spark,
    index_path: str,
    query_terms: list[str],
    k: int = 50,
    id_col: str = "doc_id",
):
    """Plain TF-IDF term-sum top-k (the second retrieval backend the
    hybrid-RRF query fuses) as an index probe: score(d) =
    Σ_t tf·ln(N/df), terms 9-dp-rounded through DECIMAL(28,12). Same
    pruned-postings shape as bm25_topk_indexed."""
    post, vocab, stats = _probe_postings(spark, index_path, query_terms)
    contrib = F.round(
        F.col("tf") * F.log(F.col("n") / F.col("df").cast("double")), 9
    ).cast("decimal(28,12)")
    scored = (
        post.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), contrib.alias("c"))
        .groupBy(id_col)
        .agg(F.sum("c").cast("double").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), id_col).limit(k)


def update_text_index(
    spark,
    new_docs,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_files: int = 4,
) -> None:
    """Incremental index maintenance — the write-time answer to "the
    corpus grew": tokenize ONLY the new documents, append their
    postings, and merge the (tiny) vocab and stats tables. The old
    corpus is never re-read, so maintenance cost is O(new docs)
    regardless of index size — at 100 TB this is the difference between
    an hourly ingest job and a daily full rebuild.

    Appended posting files are themselves term-range-sorted, so footer
    pruning holds per batch (a real deployment compacts batches
    periodically; probes are correct either way). The vocab merge is a
    full-outer sum of two document-frequency relations — the old vocab
    is small (|V| rows), so rewriting it is O(|V|), not O(corpus).
    Callers guarantee ``new_docs`` ids are disjoint from the indexed
    corpus (append semantics, like any fact ingest)."""
    cur = current_dir(path)
    toks = new_docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = new_docs.select(
        F.col(id_col),
        F.size(tokens(F.lower(F.col(text_col)))).cast("long").alias("dl"),
    )
    (
        tf.join(dl, id_col)
        .repartitionByRange(num_files, "term")
        .sortWithinPartitions("term", id_col)
        .write.mode("append")
        .parquet(f"{cur}/postings")
    )

    new_vocab = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_new")
    )
    old_vocab = spark.read.parquet(f"{cur}/vocab")
    merged_vocab = (
        old_vocab.join(new_vocab, "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("df_new"), F.lit(0))
            ).cast("long").alias("df"),
        )
        .localCheckpoint()  # sever lineage from vocab/ before overwrite
    )
    merged_vocab.coalesce(1).write.mode("overwrite").parquet(f"{cur}/vocab")

    new_stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_new"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl_new"),
    )
    old_stats = spark.read.parquet(f"{cur}/stats")
    merged_stats = (
        old_stats.crossJoin(new_stats)
        .select(
            (F.col("n") + F.col("n_new")).cast("long").alias("n"),
            (F.col("sum_dl") + F.col("sum_dl_new")).cast("long").alias("sum_dl"),
        )
        .localCheckpoint()
    )
    merged_stats.coalesce(1).write.mode("overwrite").parquet(f"{cur}/stats")

