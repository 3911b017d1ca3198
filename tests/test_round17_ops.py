"""Round-17 optimization-round pins: the operator internals that
changed for performance keep their contracts.

- spread_batch's fill-then-grow width rule (the r16 bytes/target rule
  starved CPU-bound kernels at the 100× replica; the byte probe was
  also a silent no-op inside foreachBatch — these pin the fixed rule
  and the fixed probe).
- dedup_ingest_batch's persisted survivor relation must not change the
  ingest contract (covered by the existing replay tests; here we pin
  that the persist is released even when a write fails).
- build_star's raw-level F3 probes: dim emptiness must still track
  source emptiness for every stamped dim (the schema branch the probes
  guard), including the vehicle missing-columns case.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_opendata_etl_spark.streaming.ingest import (
    _SPREAD_MIN_TASK_BYTES,
    _SPREAD_TARGET_BYTES,
    _spread_width,
    spread_batch,
)


def test_spread_width_fill_then_grow():
    par = 32
    t = _SPREAD_TARGET_BYTES
    # kilobyte batch: stays narrow (1 task — the shuffle-skip regime)
    assert _spread_width(1 << 10, par, t) == 1
    # just past one min-task slice: 2 tasks, still far below par
    assert _spread_width(_SPREAD_MIN_TASK_BYTES + 1, par, t) == 2
    # a 14 MB batch (the 100× micro-batch): FILLS the box even though
    # bytes/target alone would say 2 — the starvation case measured at
    # the replica (41.8 s at 2-wide vs 26-32 s at full width)
    assert _spread_width(14 << 20, par, t) == par
    # huge batch: grows at target_bytes/task beyond par…
    assert _spread_width(512 << 20, par, t) == 64
    # …capped at 4× parallelism
    assert _spread_width(100 << 30, par, t) == 4 * par
    # per-kernel target is respected in the grow regime
    assert _spread_width(512 << 20, par, 1 << 20) == 4 * par


def test_spread_batch_reads_plan_stats_without_input_files(
    spark, tmp_path, monkeypatch
):
    """Inside foreachBatch a file-source micro-batch reports NO
    inputFiles() (its scan is an internal batch relation), so the width
    must come from the optimizer's size statistics. A real micro-batch
    is driven through the shared drain and the byte count handed to the
    width rule is recorded: the ``width = par`` fallback never calls
    the rule, so a recorded size inside (0, 2^62) proves the
    plan-stats read ran — and fails loudly if a Spark upgrade moves
    the private JVM call it relies on."""
    from nyc_opendata_etl_spark.streaming import ingest
    from nyc_opendata_etl_spark.streaming.drain import drain

    sizes, input_files = [], []
    width_rule = ingest._spread_width

    def recording_width(nbytes, par, target_bytes):
        sizes.append(nbytes)
        return width_rule(nbytes, par, target_bytes)

    monkeypatch.setattr(ingest, "_spread_width", recording_width)

    def sink(batch_df, batch_id):
        input_files.append(batch_df.inputFiles())
        spread_batch(batch_df)

    schema = "id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, "x" * 200) for i in range(500)], schema
    ).write.parquet(src)
    drain(
        spark.readStream.schema(schema).parquet(src),
        sink,
        "spread_stats_probe",
        str(tmp_path / "ckpt"),
    )
    assert input_files == [[]]  # the foreachBatch shape
    assert len(sizes) == 1 and 0 < sizes[0] < 1 << 62, sizes


def test_spread_batch_leaves_tiny_batches_alone(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string")
    out = spread_batch(df)
    assert out.rdd.getNumPartitions() == df.rdd.getNumPartitions()


def test_dedup_ingest_unpersists_fresh_on_write_failure(spark, tmp_path):
    """The survivor cache introduced this round must be released even
    when a write fails mid-batch (a replayed batch would otherwise leak
    one cached relation per retry)."""
    from nyc_opendata_etl_spark.streaming.ingest import dedup_ingest_batch

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    # seed an index so the probe/anti-join path (fresh is not collapsed)
    # is exercised
    dedup_ingest_batch(
        batch, 0, str(tmp_path / "idx"), str(tmp_path / "out")
    )
    # a sink path whose parent is a regular file cannot be created
    blocker = tmp_path / "blocker"
    blocker.write_text("")
    with pytest.raises(Exception, match="Parent path is not a directory"):
        # the corpus write throws inside the persisted window
        dedup_ingest_batch(
            spark.createDataFrame(
                [(3, "gamma")], "doc_id long, text string"
            ),
            1,
            str(tmp_path / "idx"),
            str(blocker / "out"),
        )
    # localCheckpoint never enters the CacheManager; a leaked `fresh`
    # cache from the failed batch would
    assert cache.isEmpty()


def test_build_star_raw_probes_match_dim_emptiness(spark):
    """F3 schema branch: stamped dims over EMPTY raws must still come
    out empty-branch (fact columns keyed NULL-free schema contract) and
    non-empty raws must probe non-empty — now decided from the raws."""
    from nyc_opendata_etl_spark.operators.warehouse import build_star

    empty_311 = spark.createDataFrame(
        [],
        "unique_key string, created_date string, closed_date string, "
        "agency string, agency_name string, complaint_type string, "
        "descriptor string, borough string, city string, incident_zip string, "
        "street_name string, incident_address string, cross_street_1 string, "
        "cross_street_2 string, intersection_street_1 string, "
        "intersection_street_2 string, latitude string, longitude string, "
        "status string",
    )
    parking = spark.createDataFrame(
        [
            (
                "10", "2024-01-02", "0101A", "5", "d", "p1", "NY", "PAS",
                "SDN", "MAKE", "2020", "BLK", "No", "12", "main st",
                "cross", "K", "7",
            )
        ],
        "summons_number string, issue_date string, violation_time string, "
        "violation_code string, violation_description string, plate_id string, "
        "registration_state string, plate_type string, vehicle_body_type string, "
        "vehicle_make string, vehicle_year string, vehicle_color string, "
        "unregistered_vehicle string, house_number string, street_name string, "
        "intersecting_street string, violation_county string, "
        "violation_precinct string",
    )
    out = build_star(spark, empty_311, parking, facts=("parking",))
    # vehicle dim (stamped, raw non-empty) must be non-empty and the
    # fact must carry real vehicle keys
    fact = out["fact_parking_tickets"]
    rows = fact.select("vehicle_key").collect()
    assert len(rows) == 1 and rows[0][0] is not None
    # a 311 build over the empty raw takes the empty-dim branch without
    # error (the F3 guard the probes exist for), and its 311-side dims
    # come out empty
    out2 = build_star(spark, empty_311, parking, facts=("311",))
    assert out2["dim_complaint"].count() == 0
    assert out2["fact_311_complaints"].count() == 0
