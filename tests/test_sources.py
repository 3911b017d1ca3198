"""Socrata DataSource (offline mode), SoQL/FY helpers, and sinks."""

from __future__ import annotations

import json
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.sources import sinks
from nyc_opendata_etl_spark.sources.socrata import (
    SocrataDataSource,
    fiscal_year_dataset,
    soql_window,
)


def test_soql_window():
    assert (
        soql_window("created_date", "2024-01-01T00:00:00", "2024-01-02T00:00:00")
        == "created_date >= '2024-01-01T00:00:00' AND created_date < '2024-01-02T00:00:00'"
    )


def test_fiscal_year_dataset_routing():
    assert fiscal_year_dataset("2013-06-30") is None      # pre-FY2014
    assert fiscal_year_dataset("2013-07-01") == "jt7v-77mi"   # FY2014
    assert fiscal_year_dataset("2023-12-01") == "pvqr-7yc4"   # FY2024
    assert fiscal_year_dataset("2030-01-01") == "pvqr-7yc4"   # clamped
    assert fiscal_year_dataset("2016-03-15") == "kiv2-tbus"   # FY2016


def test_socrata_datasource_local_mode(spark):
    rows = [
        {"unique_key": str(i), "agency": f"A{i % 3}", "latitude": None}
        for i in range(25)
    ]
    path = os.path.join(tempfile.gettempdir(), f"socrata_{uuid.uuid4().hex}.json")
    with open(path, "w") as f:
        json.dump(rows, f)

    spark.dataSource.register(SocrataDataSource)
    df = (
        spark.read.format("socrata")
        .schema("unique_key string, agency string, latitude string")
        .option("local_path", path)
        .option("limit", "25")
        .option("page_size", "10")  # 3 partitions through the page path
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    got = df.collect()
    assert len(got) == 25
    assert {r["agency"] for r in got} == {"A0", "A1", "A2"}
    assert got[0]["latitude"] is None


def test_parquet_sink_partition_pruning(spark):
    """Writing the parking fact partitioned by fiscal_year gives real
    partition pruning — the Spark-native version of the reference's
    per-FY dataset map."""
    from nyc_opendata_etl_spark.functions.datetime_fns import fiscal_year

    df = spark.range(100).select(
        F.col("id"),
        F.to_timestamp(
            F.concat(
                (F.lit(2014) + (F.col("id") % 5)).cast("string"),
                F.lit("-"),
                F.lpad(((F.col("id") % 12) + 1).cast("string"), 2, "0"),
                F.lit("-15"),
            )
        ).alias("issue_date"),
    ).withColumn("fiscal_year", fiscal_year("issue_date"))

    base = os.path.join(tempfile.gettempdir(), f"wh_{uuid.uuid4().hex}")
    sinks.append_parquet(df, base, partition_by=["fiscal_year"])

    back = spark.read.parquet(base).filter(F.col("fiscal_year") == 2016)
    assert back.count() == df.filter(F.col("fiscal_year") == 2016).count()
    from nyc_opendata_etl_spark.plans import explain_str

    plan = explain_str(back)
    # pruned scan: the partition filter reached the file source
    assert "PartitionFilters" in plan and "fiscal_year" in plan

    # empty-input no-op guard (dim_loader.py:24-26)
    assert sinks.append_parquet(df.filter(F.lit(False)), base) == 0


def test_csv_roundtrip_with_schema_and_coercion(spark, tmp_path):
    from nyc_opendata_etl_spark.sources.formats import read_csv, write_csv

    path = str(tmp_path / "csv")
    src = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", None)], "id long, Name string, score double"
    )
    write_csv(src, path, mode="overwrite")
    back = read_csv(spark, path, schema="id long, name string, score double")
    assert back.columns == ["id", "name", "score"]
    rows = {r.id: (r.name, r.score) for r in back.collect()}
    assert rows == {1: ("alpha", 1.5), 2: ("beta", None)}
    # malformed cells coerce to NULL instead of failing the job
    (tmp_path / "csv" / "bad.csv").write_text("id,name,score\nxx,gamma,oops\n")
    bad = read_csv(spark, path, schema="id long, name string, score double")
    assert {r.score for r in bad.filter("name = 'gamma'").collect()} == {None}


def test_jsonl_roundtrip_with_drift(spark, tmp_path):
    from nyc_opendata_etl_spark.sources.formats import read_jsonl, write_jsonl

    path = str(tmp_path / "jsonl")
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_jsonl(src, path, mode="overwrite")
    # drifted file: missing v, extra field z
    (tmp_path / "jsonl" / "drift.json").write_text('{"id": 3, "z": true}\n')
    back = read_jsonl(spark, path, schema="id long, v string")
    rows = {r.id: r.v for r in back.collect()}
    assert rows == {1: "a", 2: "b", 3: None}  # missing -> NULL, extra dropped


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from nyc_opendata_etl_spark.sources.formats import read_orc, write_orc
    from nyc_opendata_etl_spark.plans import inspect as pi

    path = str(tmp_path / "orc")
    src = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, v string"
    )
    write_orc(src, path, mode="overwrite")
    back = read_orc(spark, path)
    assert back.count() == 100
    filtered = back.filter(back["id"] > 90)
    assert filtered.count() == 9
    # predicate reaches the ORC scan
    assert pi.has_pushed_filter(filtered, "id")


def test_socrata_page_partition_math():
    """Page layout: full pages plus a truncated last page; never a zero-
    or negative-size page (the live API charges per request)."""
    from pyspark.sql.types import StructType

    from nyc_opendata_etl_spark.sources.socrata import SocrataReader

    r = SocrataReader(StructType([]), {"limit": "25", "page_size": "10"})
    pages = [(p.offset, p.limit) for p in r.partitions()]
    assert pages == [(0, 10), (10, 10), (20, 5)]

    # exact multiple: no empty trailing page
    r = SocrataReader(StructType([]), {"limit": "20", "page_size": "10"})
    assert [(p.offset, p.limit) for p in r.partitions()] == [(0, 10), (10, 10)]

    # limit smaller than one page
    r = SocrataReader(StructType([]), {"limit": "3", "page_size": "10"})
    assert [(p.offset, p.limit) for p in r.partitions()] == [(0, 3)]


def test_append_parquet_sized_merges_small_output_files(spark, tmp_path):
    """A 64-partition trickle of tiny rows must land as a handful of
    right-sized files, not 64 shards (write-time small-file
    prevention); and partitioned mode co-locates rows per value."""
    from nyc_opendata_etl_spark.sources import sinks

    df = spark.range(0, 10_000, 1, 64).selectExpr(
        "id", "id % 3 AS part", "repeat('x', 32) AS pad"
    )
    flat = str(tmp_path / "flat")
    sinks.append_parquet_sized(df, flat, target_file_bytes=1 << 20)
    import glob

    n_flat = len(glob.glob(flat + "/*.parquet"))
    assert n_flat <= 4, n_flat  # 64 task shards coalesced
    assert spark.read.parquet(flat).count() == 10_000

    parted = str(tmp_path / "parted")
    sinks.append_parquet_sized(
        df, parted, partition_by=["part"], target_file_bytes=1 << 20
    )
    files_per_part = [
        len(glob.glob(parted + f"/part={p}/*.parquet")) for p in (0, 1, 2)
    ]
    assert all(1 <= n <= 2 for n in files_per_part), files_per_part
    assert spark.read.parquet(parted).count() == 10_000


def _files(root) -> list[str]:
    """Every file under ``root``, checksums and markers included, as
    paths relative to it."""
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


@pytest.mark.parametrize("partition_by", [None, ["part"]])
@pytest.mark.parametrize("sink", [sinks.append_parquet, sinks.append_parquet_sized])
def test_append_commits_only_observed_rows(spark, tmp_path, sink, partition_by):
    """The empty-input no-op (dim_loader.py:24-26) rides the write: the
    write lands in a staging directory and only an observed count above
    0 moves it into the table. An empty append and a write that fails
    mid-job leave the table's files exactly as they were, an empty
    append to a missing path creates nothing, and no staging directory
    outlives any of them."""
    df = spark.range(20).selectExpr("id", "id % 3 AS part")
    table = str(tmp_path / "t")
    assert sink(df, table, partition_by) == 20
    # merges into the existing table (partitions 0-2) and adds one (3)
    more = df.filter("id >= 10").selectExpr("id", "id % 4 AS part")
    assert sink(more, table, partition_by) == 10
    before = _files(table)
    crcs = {f for f in before if f.endswith(".crc")}
    # each checksum moved with its file
    assert {os.path.join(os.path.dirname(c), os.path.basename(c)[1:-4]) for c in crcs} == (
        set(before) - crcs
    )

    assert sink(df.filter(F.lit(False)), table, partition_by) == 0
    assert _files(table) == before

    boom = df.withColumn(
        "id",
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom"))).otherwise(F.col("id")),
    )
    with pytest.raises(Exception, match="boom"):
        sink(boom, table, partition_by)
    assert _files(table) == before

    ids = [r.id for r in spark.read.parquet(table).select("id").collect()]
    assert sorted(ids) == sorted([*range(20), *range(10, 20)])

    assert sink(df.filter(F.lit(False)), str(tmp_path / "missing"), partition_by) == 0
    assert sink(df.filter(F.lit(False)), str(tmp_path / "a" / "b" / "t"), partition_by) == 0
    with pytest.raises(Exception, match="boom"):
        sink(boom, str(tmp_path / "a" / "b" / "t"), partition_by)
    assert os.listdir(tmp_path) == ["t"]  # no missing table, no staging left
