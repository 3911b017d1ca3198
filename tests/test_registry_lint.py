"""Registry-wide lint against known driver-contract hazards.

Two failure classes discovered by driver rounds (NOTES.md "Conventions
to preserve", memory: driver-contract-quirks):

1. The driver's pandas canonicalizer sorts rows over all columns, so an
   output column whose Python value is unhashable (list/dict — i.e.
   Spark ArrayType/MapType/StructType) dies with
   "unhashable type: 'list'" and the query can NEVER go green
   (events_user_sequences, round 5). Registered queries must emit
   scalars only — string-join arrays before returning.

2. DuckDB ``sum(integer)`` returns HUGEINT, which pandas canonicalizes
   as float ("2879.0") while Spark's bigint prints "2879" — a hash
   mismatch on EQUAL values (q12_latency_priority, round 5). Every
   integer sum in an oracle must be CAST to BIGINT; ``DESCRIBE`` plans
   the query without executing it, so the whole registry lints in
   seconds.

Both lints run the REAL artifacts (Spark plan schemas / DuckDB planner
types), not regexes, so new queries are covered automatically.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from nyc_opendata_etl_spark.queries import _ordered
from tools.check_correctness import compare, oracle_connection

SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001")
COMPARE_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def test_oracle_columns_never_hugeint():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    offenders: dict[str, list[str]] = {}
    for name, qd in _ordered().items():
        if qd.oracle is None:
            continue
        cols = con.execute(f"DESCRIBE {qd.oracle}").fetchall()
        bad = [f"{c[0]}:{c[1]}" for c in cols if "HUGEINT" in c[1].upper()]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle columns typed HUGEINT (pandas canonicalizes as float → "
        f"hash mismatch on equal values; CAST ... AS BIGINT): {offenders}"
    )


def test_spark_outputs_are_scalar_typed(spark):
    """Build every registered query's DataFrame and reject output
    columns the driver canonicalizer cannot hash (array/map/struct).
    Plans are built lazily — only iterative operators execute jobs, at
    sf0.001."""
    from pyspark.sql import types as T

    offenders: dict[str, list[str]] = {}
    for name, qd in _ordered().items():
        df = qd.fn(spark, SF_DIR)
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "registered queries emitting non-scalar columns (driver pandas "
        f"canonicalizer dies on unhashable values): {offenders}"
    )


def test_recheck_and_verified_names_exist():
    """Every name in the rotation inputs (_RECHECK_* prefix list and
    _LAST_VERIFIED ledger) must be a registered query — a typo here
    silently drops a query from the driver's verification prefix."""
    import nyc_opendata_etl_spark.queries as q

    q._load_all()
    recheck_lists = {
        k: v for k, v in vars(q).items() if k.startswith("_RECHECK_R")
    }
    assert recheck_lists, "no _RECHECK_R* list found in queries/__init__"
    for attr, recheck in recheck_lists.items():
        missing = [n for n in recheck if n not in q.REGISTRY]
        assert not missing, f"{attr} names not in registry: {missing}"
    stale = [n for n in q._LAST_VERIFIED if n not in q.REGISTRY]
    assert not stale, f"_LAST_VERIFIED names not in registry: {stale}"


def test_oracle_outputs_never_emit_negative_zero():
    """Signed-zero cross-engine law (r16, NOTES item 20): Spark's
    round() (BigDecimal) can never emit -0.0, DuckDB's round() and
    np.round keep it, and the repr-based value compare distinguishes
    them — so an oracle cell of -0.0 is a latent hash mismatch. The
    registered surface is deterministically safe on the fixed testdata
    (this test IS that proof, re-run every suite); rounding kernels and
    oracles normalize with `+ 0` / `sims += 0.0`. A failure here means
    a new oracle (or new testdata) crossed the law — normalize its
    rounding the same way, don't relax the pin."""
    import math

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    oracles = {n: qd.oracle for n, qd in _ordered().items() if qd.oracle}
    offenders = []
    for name, sql in oracles.items():
        for row in con.execute(sql).fetchall():
            if any(
                isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0
                for v in row
            ):
                offenders.append(name)
                break
    assert not offenders, f"oracles emitting -0.0 cells: {offenders}"


# Staged-artifact and streaming queries: their result depends on write-time
# state (drains, index lifecycles), so the gate's compare runs in-suite too.
_COMPARED = (
    "stream_dedup_ingest",
    "stream_scd2_upserts",
    "stream_index_ingest",
    "stream_ivfpq_ingest",
    "stream_cluster_ingest",
    "dedup_incremental_rc",
    "dedup_clusters_incremental",
    "similarity_after_delete",
    "multimodal_audio_features",
    "multimodal_video_frames",
    "similarity_ivfpq_retrain",
    "similarity_knn_join",
    "corpus_knn_label",
    "corpus_shard_epoch",
    "corpus_decontaminate_semantic",
)


@pytest.mark.parametrize("name", _COMPARED)
def test_query_matches_its_oracle(spark, name):
    """The exact compare tools/check_correctness.py gates on — row
    count, column names, canonicalized values — against the query's
    DuckDB oracle at sf0.01."""
    qd = _ordered()[name]
    sdf = qd.fn(spark, COMPARE_SF_DIR)
    res = oracle_connection(COMPARE_SF_DIR).execute(qd.oracle)
    duck_cols = [d[0] for d in res.description]
    problems = compare(sdf.columns, sdf.collect(), duck_cols, res.fetchall())
    assert not problems, problems


def test_stream_source_alias_matches_maintenance():
    """The benchmark's stream_ingest workload imports its two stream
    sources from queries.pending_r13; the alias must stay the same
    objects as the builders in queries.maintenance."""
    from nyc_opendata_etl_spark.queries import maintenance, pending_r13

    assert pending_r13._stage_docs_idordered is maintenance._stage_docs_idordered
    assert pending_r13._stage_cdc_batches is maintenance._stage_cdc_batches
