"""The batch log of ``sources/batch_log.py``: every stateful writer's
declared schema reads a missing, an empty and a populated log the same
way, without a schema-inference job; and a commit killed at any of its
file-system steps leaves every reader on the old artifact or the new
one, and its re-run finishes with one version."""

from __future__ import annotations

import os
import shutil

import pytest

from nyc_opendata_etl_spark.operators import cluster_index as ci
from nyc_opendata_etl_spark.operators import dedup
from nyc_opendata_etl_spark.sources import batch_log
from nyc_opendata_etl_spark.sources.batch_log import (
    COMPACTED_B,
    current_dir,
    read_log,
    write_batch,
)
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


class Killed(RuntimeError):
    """The injected crash."""


#: The file-system steps of one commit, in order; ``prune`` is split
#: into one kill per removal below.
STEPS = ("partial", "written", "pointer_tmp", "pointer_replaced")


def _killed_at(m, step: str, root: str, nth: int = 1) -> None:
    """Patch ``batch_log``'s file operations (through ``m``, a
    monkeypatch context) so the next commit of ``root`` raises right
    after ``step``: after the first relation of the new version is
    written, after the version is fully written, after the pointer's
    temp file is written, after the pointer is replaced, or after the
    ``nth`` removal of the prune."""
    from pyspark.sql.readwriter import DataFrameWriter

    root = os.path.abspath(root)
    pointer = os.path.join(root, "_CURRENT")
    committed = os.path.join(root, f"v={batch_log.current_version(root)}")

    def new_version(path: str) -> bool:
        path = os.path.abspath(path)
        return path.startswith(root + "/v=") and not path.startswith(committed)

    if step == "partial":
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            real_parquet(self, path, *args, **kwargs)
            if new_version(path):
                raise Killed(step)

        m.setattr(DataFrameWriter, "parquet", parquet)
    elif step == "written":
        real_point = batch_log._point

        def point(path, version):
            if os.path.abspath(path) == root:
                raise Killed(step)
            real_point(path, version)

        m.setattr(batch_log, "_point", point)
    elif step in ("pointer_tmp", "pointer_replaced"):
        real_replace = os.replace

        def replace(src, dst):
            if os.path.abspath(dst) == pointer and step == "pointer_tmp":
                assert os.path.exists(src)
                raise Killed(step)
            real_replace(src, dst)
            if os.path.abspath(dst) == pointer:
                raise Killed(step)

        m.setattr(os, "replace", replace)
    else:
        real_rmtree, seen = shutil.rmtree, []

        def rmtree(path, *args, **kwargs):
            real_rmtree(path, *args, **kwargs)
            if os.path.abspath(path).startswith(root + "/"):
                seen.append(path)
                if len(seen) == nth:
                    raise Killed(f"prune {nth}")

        m.setattr(shutil, "rmtree", rmtree)


def _versions(root: str) -> list[str]:
    return sorted(n for n in os.listdir(root) if n.startswith("v="))


def _interrupt_every_step(monkeypatch, root, operation, answer, before, after):
    """Kill ``operation`` at every step of its commit of ``root``: each
    time ``answer()`` must be the before- or the after-answer, and a
    re-run must finish with the after-answer and exactly one version.
    The prune is killed after each of its removals, with an uncommitted
    version left beside the committed one so there are two."""
    kills = [(step, 1) for step in STEPS] + [("prune", 1), ("prune", 2)]
    for step, nth in kills:
        if step == "prune":
            with monkeypatch.context() as m, pytest.raises(Killed):
                _killed_at(m, "written", root)
                operation()
        with monkeypatch.context() as m, pytest.raises(Killed):
            _killed_at(m, step, root, nth)
            operation()
        assert answer() in (before, after), (step, nth)
        operation()
        assert answer() == after, (step, nth)
        assert len(_versions(root)) == 1, (step, nth)


def test_interrupted_swap_stops_the_next_batch(spark, tmp_path, monkeypatch):
    """The fingerprint log's compaction killed at any step of its
    commit (the swap of the compacted version for the live one): the
    next ingest batch still rejects doc 2 (a duplicate of the indexed
    doc 1) and accepts only doc 3, and re-running the compaction leaves
    one version."""
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        compact_fingerprint_index,
    )
    from nyc_opendata_etl_spark.streaming.ingest import dedup_ingest_batch

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    kills = [(step, 1) for step in STEPS] + [("prune", 1)]
    for i, (step, nth) in enumerate(kills):
        idx, out = str(tmp_path / f"idx{i}"), str(tmp_path / f"out{i}")
        dedup.build_fingerprint_index(docs([(1, "aa")]), idx)
        with monkeypatch.context() as m, pytest.raises(Killed):
            _killed_at(m, step, idx, nth)
            compact_fingerprint_index(spark, idx)
        dedup_ingest_batch(docs([(2, "aa"), (3, "cc")]), 0, idx, out)
        accepted = {r.doc_id for r in spark.read.parquet(out).collect()}
        assert accepted == {3}, step
        compact_fingerprint_index(spark, idx)
        assert len(_versions(idx)) == 1, step
        assert sorted(
            (r.cnt, r.b) for r in spark.read.parquet(current_dir(idx)).collect()
        ) == [(1, COMPACTED_B), (1, COMPACTED_B)], step


def test_interrupted_text_compaction_never_mixes_relations(
    spark, tmp_path, monkeypatch
):
    """A BM25 top-k over an index whose delete-compaction is killed at
    any step of its commit answers as the old index or the compacted
    one (postings, vocab and stats commit together: a kill between the
    postings and the vocab write used to leave a mixed index)."""
    from nyc_opendata_etl_spark.operators import text
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        compact_text_index,
    )

    docs = spark.createDataFrame(
        [(i, f"hash join {'vector ' * (i % 3)}doc{i}") for i in range(12)],
        "doc_id long, text string",
    )
    gone = docs.filter("doc_id % 4 = 0").select("doc_id")
    path, ref = str(tmp_path / "idx"), str(tmp_path / "ref")

    def top(p):
        return [tuple(r) for r in text.bm25_topk_indexed(spark, p, ["hash", "vector"]).collect()]

    text.build_text_index(docs, path)
    text.build_text_index(docs, ref)
    compact_text_index(spark, ref, delete_ids=gone)
    before, after = top(path), top(ref)
    assert before != after
    _interrupt_every_step(
        monkeypatch, path, lambda: compact_text_index(spark, path, delete_ids=gone),
        lambda: top(path), before, after,
    )


def test_interrupted_ivfpq_retrain_never_mixes_quantizers(
    spark, tmp_path, monkeypatch
):
    """An IVF-PQ probe over an index whose retrain is killed at any
    step of its commit answers as the drifted index or the retrained
    one (codes, centroids, codebook and params commit together)."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators import similarity
    from nyc_opendata_etl_spark.operators.index_maintenance import (
        retrain_ivfpq_index,
    )
    from nyc_opendata_etl_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path, ref = str(tmp_path / "idx"), str(tmp_path / "ref")
    similarity.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    similarity.update_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    similarity.build_ivfpq_index(emb, ref)

    def probe(p):
        return [
            tuple(r)
            for r in similarity.ivfpq_topk_indexed(spark, emb, p, query_vec_id=42).collect()
        ]

    before, after = probe(path), probe(ref)
    assert before != after
    _interrupt_every_step(
        monkeypatch, path, lambda: retrain_ivfpq_index(spark, emb, path),
        lambda: probe(path), before, after,
    )


def test_interrupted_cluster_compaction_keeps_the_map(
    spark, tmp_path, monkeypatch
):
    """``read_dup_clusters`` over a cluster index whose compaction is
    killed at any step of its commit returns the same map (the
    snapshot and its pointer commit with the folded logs)."""
    from pyspark.sql import functions as F

    from tests.test_round15_ops import _corpus, _docs

    docs = _docs(spark, _corpus())
    path = str(tmp_path / "ci")
    ci.build_dup_cluster_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    ci.update_dup_cluster_index(
        spark, docs.filter(F.col("doc_id") % 2 == 1), path, batch_id=0
    )

    def clusters():
        return sorted(map(tuple, ci.read_dup_clusters(spark, path).collect()))

    want = clusters()
    _interrupt_every_step(
        monkeypatch, path, lambda: ci.compact_dup_cluster_index(spark, path),
        clusters, want, want,
    )
    reps = os.listdir(f"{current_dir(path)}/reps")
    assert {d for d in reps if d.startswith("b=")} == {f"b={ci.BUILD_BATCH}"}
