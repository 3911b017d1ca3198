"""The batch log of ``sources/batch_log.py``: every stateful writer's
declared schema reads a missing, an empty and a populated log the same
way, without a schema-inference job; and a compaction swap that died
between its renames stops the next batch instead of reading as "no
log"."""

from __future__ import annotations

import os

import pytest

from nyc_opendata_etl_spark.operators import cluster_index as ci
from nyc_opendata_etl_spark.operators import dedup
from nyc_opendata_etl_spark.sources.batch_log import read_log, write_batch
from nyc_opendata_etl_spark.streaming import ann_ingest, index_ingest
from tools.harness import JobCounter

_CLUSTER = ci.artifact_schemas()

#: family -> (declared schema, one row without ``b``, extra partitions);
#: a schema without ``b`` is a versioned snapshot, not a batch log.
FAMILIES = {
    "fingerprint": (dedup.FINGERPRINT_INDEX_SCHEMA, (7, 2), ()),
    "cluster_reps": (_CLUSTER["reps"], ("c0", 1, [5, 6], 2), ()),
    "cluster_prefix": (_CLUSTER["prefix"], (1, 2, 5), ()),
    "cluster_members": (_CLUSTER["members"], (3, 1), ()),
    "cluster_clusters": (_CLUSTER["clusters"], (3, 1), ()),
    "bm25_postings": (index_ingest.postings_schema(), (1, "t", 2, 3), ()),
    "bm25_stats": (index_ingest.STATS_SCHEMA, (2, 7), ()),
    "ivfpq_codes": (ann_ingest.CODES_SCHEMA, (1, 0, 3, 4), ("cid",)),
}


def _populate(spark, path, schema, row, partition_by):
    declared = spark.createDataFrame([], schema).schema
    if "b" not in declared.names:
        spark.createDataFrame([row], schema).write.parquet(path)
        return row
    body = ", ".join(f.simpleString().replace(":", " ", 1) for f in declared if f.name != "b")
    write_batch(spark.createDataFrame([row], body), path, 3, "dynamic", partition_by)
    return (*row, 3)


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_declared_schema_reads_missing_empty_and_populated(spark, tmp_path, family):
    schema, row, partition_by = FAMILIES[family]
    declared = spark.createDataFrame([], schema).schema

    assert read_log(spark, str(tmp_path / "never_written"), schema) is None

    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    df = read_log(spark, str(empty), schema)
    assert df.schema.simpleString() == declared.simpleString()
    assert df.count() == 0

    path = str(tmp_path / "log")
    want = _populate(spark, path, schema, row, partition_by)
    jobs = JobCounter.for_spark(spark)
    jobs.read()
    df = read_log(spark, path, schema)
    assert jobs.read()["jobs"] == 0
    spark.read.parquet(path)
    assert jobs.read()["jobs"] == 1  # what the declared schema saves
    got = df.collect()
    assert [tuple(r) for r in got] == [want]


def test_interrupted_swap_stops_the_next_batch(spark, tmp_path):
    """A compaction swap that died between its two renames leaves the
    live index only under ``__compact_old``. The next ingest batch must
    raise naming it: reading the gap as "no index yet" would accept the
    duplicate doc 2 and recreate the live directory holding only its
    own partition, which the documented recovery (rename it back) then
    collides with."""
    from nyc_opendata_etl_spark.streaming.ingest import dedup_ingest_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    dedup.build_fingerprint_index(
        spark.createDataFrame([(1, "aa")], "doc_id long, text string"), idx
    )
    os.rename(idx, idx + "__compact_old")

    def tree():
        return sorted(
            (d, sorted(files)) for d, _, files in os.walk(idx + "__compact_old")
        )

    before = tree()
    batch = spark.createDataFrame([(2, "aa"), (3, "cc")], "doc_id long, text string")
    with pytest.raises(FileNotFoundError, match="__compact_old"):
        dedup_ingest_batch(batch, 0, idx, out)
    assert not os.path.exists(idx)
    assert not os.path.exists(out)
    assert tree() == before
