"""``assign_keys`` — the engine's dimension-key stamping join (SURVEY §2 J1).

Reference: ``etl/core/key_mapper.py:5-49`` — the single join in the whole
reference engine. Semantics to preserve exactly:

* The join key is the ``"|"``-joined *stringified* natural-key columns on
  both sides, where ``astype(str)`` renders NaN as the literal ``"nan"``
  — so NULL natural keys MATCH EACH OTHER (unlike a SQL equi-join, which
  drops null keys). We join on ``concat_ws``-built keys with
  ``coalesce(col, 'nan')`` to replicate this (SURVEY §7 item 2).
* The dim surrogate key is (re)computed from content via
  :func:`~nyc_opendata_etl_spark.functions.hashing.surrogate_key`.
* Missing natural-key fields on either side, or an empty dim → stamp the
  fact with a typed NULL key and skip the join (``key_mapper.py:11-19``).
* Natural-key columns are dropped from the result (``key_mapper.py:40-47``).

Scale design: dimension tables are distinct natural-key projections —
orders of magnitude smaller than facts — so this join is explicitly
``broadcast()``: no shuffle of the fact side at all. At 100 TB the fact
scan streams through a broadcast hash join inside one stage. If a
dimension ever outgrew the broadcast threshold, dropping the hint falls
back to AQE's choice (shuffled hash / sort-merge) with identical
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.functions.hashing import surrogate_key

_JOIN_KEY = "__join_key__"


def _string_join_key(cols: list[str]) -> F.Column:
    return F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("nan")) for c in cols]
    )


def assign_keys(
    fact_df: DataFrame,
    dim_df: DataFrame,
    dim_fields: list[str],
    key_name: str,
    known_nonempty: bool | None = None,
) -> DataFrame:
    """Stamp ``fact_df`` with the surrogate ``key_name`` of the dimension
    row whose natural key (``dim_fields``) matches; non-matches → NULL.

    Returns the fact with natural-key columns removed, like the
    reference.

    ``known_nonempty`` lets a caller that already probed the dimension's
    emptiness (the F3 schema branch) skip the per-dim ``isEmpty`` job:
    ``build_star`` probes all its dims in ONE batched job, which turned
    six sequential dim-build jobs at query-construction time into one
    concurrent one. ``None`` keeps the self-probing behavior.
    """
    empty = (
        (not known_nonempty) if known_nonempty is not None else dim_df.isEmpty()
    )
    if empty or not all(f in dim_df.columns for f in dim_fields):
        return fact_df.withColumn(key_name, F.lit(None).cast("long"))
    if not all(f in fact_df.columns for f in dim_fields):
        return fact_df.withColumn(key_name, F.lit(None).cast("long"))

    # No dedup here: dims are distinct natural-key projections by
    # construction (DimBuilder), and pandas merge would fan out on
    # duplicates just like this join — parity preserved either way.
    dim_keyed = dim_df.select(
        surrogate_key(*dim_fields).alias(key_name),
        _string_join_key(dim_fields).alias(_JOIN_KEY),
    )

    fact_keyed = fact_df.withColumn(_JOIN_KEY, _string_join_key(dim_fields))
    joined = fact_keyed.join(F.broadcast(dim_keyed), on=_JOIN_KEY, how="left")
    return joined.drop(_JOIN_KEY, *dim_fields)
