"""End-to-end star-schema build on synthetic Socrata-shaped fixtures
(FIXTURES.md A1/A2), checking dim dedup/keys and fact FK stamping —
including the reference's subtle join-key semantics (lat/lon string-vs-
float asymmetry, null natural keys matching)."""

from __future__ import annotations

from pyspark.sql import Row

from nyc_opendata_etl_spark.operators import warehouse as W
from tests.test_hashing import ref_hash


def _raw_311(spark):
    base = {
        "unique_key": None, "created_date": None, "closed_date": None,
        "agency": None, "agency_name": None,
        "complaint_type": None, "descriptor": None, "location_type": None,
        "borough": None, "city": None, "incident_zip": None,
        "street_name": None, "incident_address": None,
        "cross_street_1": None, "cross_street_2": None,
        "intersection_street_1": None, "intersection_street_2": None,
        "latitude": None, "longitude": None, "status": None,
    }
    rows = [
        # two rows, same agency after normalization
        dict(base, unique_key="1", created_date="2024-03-05T08:53:21",
             closed_date="2024-03-06T10:00:00", agency="  NYPD ",
             agency_name="Police", complaint_type="Noise", descriptor="Loud",
             location_type="Street", borough="BROOKLYN", city="bk",
             incident_zip="11201", street_name="Main St",
             incident_address="1 Main St", latitude="40.5", longitude="-73.9"),
        dict(base, unique_key="2", created_date="2024-03-05T23:59:59",
             agency="nypd", agency_name=" POLICE", complaint_type="Noise",
             descriptor="Loud", location_type="Street", borough="brooklyn",
             city="BK", incident_zip="11201", street_name="main st",
             incident_address="1 main st", latitude="40.5", longitude="-73.9"),
        # garbage timestamp -> null keys; distinct complaint
        dict(base, unique_key="3", created_date="not a date",
             agency="DOT", agency_name="Transport", complaint_type="Pothole",
             descriptor="Deep", location_type="Highway", borough="queens",
             latitude="40.50", longitude="-73.9"),  # "40.50" ≠ str(40.5)
        # null lat/lon: 'nan' join-key must match the dim's NaN
        dict(base, unique_key="4", agency="DOT", agency_name="Transport",
             complaint_type="Pothole", descriptor="Deep", location_type="Highway",
             borough="bronx"),
    ]
    schema = ", ".join(f"{c} string" for c in base)
    return spark.createDataFrame([tuple(r[c] for c in base) for r in rows], schema)


def _raw_parking(spark):
    base = {
        "summons_number": None, "issue_date": None, "violation_time": None,
        "violation_code": None, "violation_description": None,
        "plate_id": None, "registration_state": None, "plate_type": None,
        "vehicle_body_type": None, "vehicle_make": None, "vehicle_year": None,
        "vehicle_color": None, "unregistered_vehicle": None,
        "house_number": None, "street_name": None, "intersecting_street": None,
        "violation_county": None, "violation_precinct": None,
    }
    rows = [
        dict(base, summons_number="90001", issue_date="2024-07-02T00:00:00",
             violation_time="0853A", violation_code="21",
             violation_description="No Parking", plate_id="ABC123",
             registration_state="NY", plate_type="PAS",
             vehicle_body_type="SDN", vehicle_make="TOYOT", vehicle_year="2020",
             vehicle_color="BLK", unregistered_vehicle="No",
             house_number="12", street_name="Elm St", intersecting_street="Oak",
             violation_county="K", violation_precinct="61"),
        # same vehicle, different case; same location
        dict(base, summons_number="90002", issue_date="2024-07-02T14:30:00",
             violation_time="02:30P", violation_code=" 21 ",
             violation_description="no parking", plate_id="abc123",
             registration_state="ny", plate_type="pas",
             vehicle_body_type="SUV", vehicle_make="HONDA", vehicle_year="2021",
             vehicle_color="WHT", unregistered_vehicle="Yes",
             house_number="12", street_name="elm st", intersecting_street="OAK",
             violation_county="k", violation_precinct="61"),
        # unparsable time + unparsable code
        dict(base, summons_number="90003", issue_date="2024-07-03T09:00:00",
             violation_time="garbage", violation_code="XX",
             plate_id="XYZ999", registration_state="NJ", plate_type="COM",
             house_number="99", street_name="Pine", intersecting_street="1st",
             violation_county="Q", violation_precinct="112"),
    ]
    schema = ", ".join(f"{c} string" for c in base)
    return spark.createDataFrame([tuple(r[c] for c in base) for r in rows], schema)


def test_full_star_build(spark):
    out = W.build_star(spark, _raw_311(spark), _raw_parking(spark))

    # ── dims ──────────────────────────────────────────────────────────
    agency = {
        (r["agency"], r["agency_name"]): r["agency_key"]
        for r in out["dim_agency"].collect()
    }
    # 311 contributes nypd+dot; parking rows contribute the ('', '') row
    # (pd.concat alignment: parking has no agency cols -> NaN -> "")
    assert set(agency) == {("nypd", "police"), ("dot", "transport"), ("", "")}
    assert agency[("nypd", "police")] == ref_hash("nypd", "police")

    complaint = {r["complaint_type"]: r for r in out["dim_complaint"].collect()}
    assert set(complaint) == {"noise", "pothole"}
    assert complaint["noise"]["complaint_key"] == ref_hash("noise", "loud", "street")

    loc = out["dim_location"].collect()
    # rows 1+2 normalize to the same 9 strings BUT stay distinct rows if
    # lat/lon text differed; here both are "40.5"/-73.9 -> one row; rows
    # 3 and 4 distinct
    keyed = {(r["borough"], r["latitude"], r["longitude"]): r["location_key"] for r in loc}
    assert (("brooklyn", 40.5, -73.9)) in keyed
    assert keyed[("bronx", None, None)] == ref_hash(
        "bronx", "", "", "", "", "", "", "", ""
    )

    vehicle = {r["plate"]: r for r in out["dim_vehicle"].collect()}
    assert set(vehicle) == {"abc123", "xyz999"}
    assert vehicle["abc123"]["vehicle_key"] == ref_hash("abc123", "ny", "pas")
    # min(struct) deterministic attr pick: 'SDN' < 'SUV'
    assert vehicle["abc123"]["vehicle_body_type"] == "SDN"
    assert vehicle["abc123"]["vehicle_year"] == 2020
    assert vehicle["abc123"]["unregistered"] is False

    violation = {r["violation_code"]: r["violation_description"]
                 for r in out["dim_violation"].collect()}
    # '21' and ' 21 ' both coerce to 21 (normalized before dim build);
    # 'XX' coerces to NULL and is dropped
    assert violation == {21: "no parking"}

    pl = {r["house_number"]: r["parking_location_key"]
          for r in out["dim_parking_location"].collect()}
    assert pl["12"] == ref_hash("12", "elm st", "oak", "k", "61")

    # ── 311 fact ─────────────────────────────────────────────────────
    fact = {r["unique_key"]: r for r in out["fact_311_complaints"].collect()}
    assert set(fact) == {"1", "2", "3", "4"}
    f1 = fact["1"]
    assert f1["created_date_key"] == 20240305
    assert f1["created_time_key"] == 85300
    assert f1["closed_date_key"] == 20240306
    assert f1["agency_key"] == ref_hash("nypd", "police")
    assert f1["complaint_key"] == ref_hash("noise", "loud", "street")
    # row 1's location: fact join key uses raw lat/lon strings "40.5";
    # dim side renders float 40.5 -> "40.5" -> MATCH. The stamped key is
    # recomputed over ALL 11 join fields (key_mapper.py:24 overwrites the
    # dim's 9-col hash) — a reference inconsistency reproduced on purpose:
    # fact_311.location_key ≠ dim_location.location_key.
    assert f1["location_key"] == ref_hash(
        "brooklyn", "bk", "11201", "main st", "1 main st", "", "", "", "",
        "40.5", "-73.9"
    )
    # row 3: fact lat string is "40.50", dim float renders "40.5" -> NO match
    assert fact["3"]["location_key"] is None
    assert fact["3"]["created_date_key"] is None  # garbage timestamp
    # row 4: null lat/lon -> 'nan'|'nan' on both sides -> MATCH
    assert fact["4"]["location_key"] == ref_hash(
        "bronx", "", "", "", "", "", "", "", "", "nan", "nan"
    )
    # the three phantom columns are absent, like the reference's output
    for col in ("resolution_action_date", "due_date", "closed_timestamp"):
        assert col not in out["fact_311_complaints"].columns

    # ── parking fact ─────────────────────────────────────────────────
    pfact = {r["summons_number"]: r for r in out["fact_parking_tickets"].collect()}
    assert pfact["90001"]["date_key"] == 20240702
    assert pfact["90001"]["time_key"] == 85300
    assert pfact["90002"]["time_key"] == 143000
    assert pfact["90003"]["time_key"] is None
    assert pfact["90001"]["violation_code"] == 21
    assert pfact["90003"]["violation_code"] is None
    assert pfact["90001"]["vehicle_key"] == ref_hash("abc123", "ny", "pas")
    assert pfact["90001"]["location_key"] == ref_hash("12", "elm st", "oak", "k", "61")

    # ── integrated fact ──────────────────────────────────────────────
    integ = out["integrated_fact_service_requests"].collect()
    assert len(integ) == 7  # 4 x 311 + 3 x parking
    sources = {r["source"] for r in integ}
    assert sources == {"311", "parking"}


def test_missing_location_type_column(spark):
    """main.py:114-118: a raw 311 set with location_type entirely absent
    still builds — re-added as '' for the complaint join."""
    cols_311 = [
        "unique_key", "created_date", "agency", "agency_name",
        "complaint_type", "descriptor", "borough", "city", "incident_zip",
        "street_name", "incident_address", "cross_street_1", "cross_street_2",
        "intersection_street_1", "intersection_street_2", "latitude", "longitude",
    ]
    df = spark.createDataFrame(
        [("1", "2024-01-01T00:00:00", "a", "b", "X", "Y")
         + (None,) * (len(cols_311) - 6)],
        ", ".join(f"{c} string" for c in cols_311),
    )
    cols_p = [
        "summons_number", "issue_date", "violation_time", "violation_code",
        "plate_id", "registration_state", "plate_type", "house_number",
        "street_name", "intersecting_street", "violation_county",
        "violation_precinct",
    ]
    parking = spark.createDataFrame([], ", ".join(f"{c} string" for c in cols_p))
    out = W.build_star(spark, df, parking)
    f = out["fact_311_complaints"].collect()[0]
    assert f["complaint_key"] == ref_hash("x", "y", "")


def test_build_star_with_both_inputs_empty(spark):
    """The reference skips loads on empty inputs (F3 guards,
    dim_loader.py:24-26, main.py:62,102,149); our build must yield
    empty-but-correctly-typed outputs, never fail."""
    cols_311 = [
        "unique_key", "created_date", "agency", "agency_name",
        "complaint_type", "descriptor",
    ]
    cols_parking = [
        "summons_number", "issue_date", "violation_time", "violation_code",
        "plate_id", "registration_state", "plate_type", "house_number",
        "street_name", "intersecting_street", "violation_county",
        "violation_precinct",
    ]
    empty_311 = spark.createDataFrame(
        [], ", ".join(f"{c} string" for c in cols_311)
    )
    empty_parking = spark.createDataFrame(
        [], ", ".join(f"{c} string" for c in cols_parking)
    )
    out = W.build_star(spark, empty_311, empty_parking)
    # generated dims stay populated; data-derived tables are empty
    assert out["dim_date"].count() > 0
    assert out["dim_time"].count() == 1440
    for name in (
        "dim_agency", "dim_vehicle", "fact_311_complaints",
        "fact_parking_tickets", "integrated_fact_service_requests",
    ):
        assert out[name].count() == 0, name
    # FK key columns exist and are typed on the empty facts
    assert "agency_key" in out["fact_311_complaints"].columns
    assert "vehicle_key" in out["fact_parking_tickets"].columns


def test_observed_metrics_ride_the_consuming_action(spark, tmp_path):
    """observed() must deliver expectation counts from the SAME job
    that writes the data — no second scan — and match validate()'s
    failure semantics (NULL -> failed)."""
    from pyspark.sql import functions as F

    from nyc_opendata_etl_spark.operators.quality import observed

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (3, None), (4, 5.0)],
        "id long, amount double",
    )
    out, obs = observed(
        df,
        {
            "amount_nonneg": F.col("amount") >= 0,
            "id_positive": F.col("id") > 0,
        },
    )
    out.write.mode("overwrite").parquet(str(tmp_path / "sink"))
    m = obs.get
    assert m["n_rows"] == 4
    assert m["n_failed_amount_nonneg"] == 2  # -1.0 and the NULL
    assert m["n_failed_id_positive"] == 0
    # the write actually landed all rows
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 4


def test_build_star_facts_scoping_preserves_values(spark):
    """A scoped build must return the same fact values as the full
    build (dim_agency unions both inputs either way), just without the
    other branch's outputs."""
    import nyc_opendata_etl_spark.operators.warehouse as W

    full = W.build_star(spark, _raw_311(spark), _raw_parking(spark))
    scoped = W.build_star(
        spark, _raw_311(spark), _raw_parking(spark), facts=("parking",)
    )
    assert "fact_311_complaints" not in scoped
    assert "dim_complaint" not in scoped
    a = full["fact_parking_tickets"]
    b = scoped["fact_parking_tickets"]
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # integrated-only scoping: skips the per-branch-fact dims/stamps
    # (complaint, vehicle, violation, parking location) but must emit
    # the identical integrated rows the full build derives
    integ = W.build_star(
        spark, _raw_311(spark), _raw_parking(spark), facts=("integrated",)
    )
    for absent in (
        "fact_311_complaints", "fact_parking_tickets", "dim_complaint",
        "dim_vehicle", "dim_violation", "dim_parking_location",
    ):
        assert absent not in integ
    fa = full["integrated_fact_service_requests"]
    fb = integ["integrated_fact_service_requests"]
    assert fa.columns == fb.columns
    assert fa.exceptAll(fb).count() == 0
    assert fb.exceptAll(fa).count() == 0


def test_raw_cache_gate_branches_at_size_threshold(spark, tmp_path, monkeypatch):
    """r16 (VERDICT r15 item 4): build_star's raw-input cache is
    size-gated on a metadata-only input estimate — a raw whose files
    exceed _RAW_CACHE_MAX_INPUT_BYTES is NOT cached
    (at 100 TB the raws don't fit the storage tier; the cache would be
    eviction churn), while the same raw under the default budget IS.
    Values are cache-invariant; this pins the gate actually branching
    at the threshold."""
    raw = _raw_311(spark)
    src = str(tmp_path / "raw311")
    raw.write.parquet(src)

    def build(df):
        out = W.build_star(
            spark,
            df,
            spark.createDataFrame([], "summons_number string"),
            facts=("311",),
        )
        out["fact_311_complaints"].count()  # force execution
        return out

    # budget 0: even a KB-sized raw is over → gate must skip
    monkeypatch.setattr(W, "_RAW_CACHE_MAX_INPUT_BYTES", 0)
    over = spark.read.parquet(src)
    assert W._input_size_bytes(over) > 0
    build(over)
    assert not over.storageLevel.useMemory

    # default budget: same raw fits → gate must cache
    monkeypatch.undo()
    under = spark.read.parquet(src)
    build(under)
    assert under.storageLevel.useMemory

    # estimate semantics: in-memory sources are 0 (bounded by
    # construction), remote schemes are None (unknown → never cached)
    assert W._input_size_bytes(_raw_311(spark)) == 0

    class _Remote:
        def inputFiles(self):
            return ["s3://bucket/part-0.parquet"]

    assert W._input_size_bytes(_Remote()) is None


def test_stamped_dim_builders_keep_an_all_null_row(spark):
    """build_star answers its F3 emptiness probes from the RAW inputs,
    which holds only while every stamped dim builder is row-preserving:
    a raw with >= 1 rows, even all-NULL, must yield a dim with >= 1
    rows. A filter added to any of these builders breaks the probe."""

    def all_null(raw):
        return spark.createDataFrame([(None,) * len(raw.columns)], raw.schema)

    raw_311 = all_null(_raw_311(spark))
    raw_parking = all_null(_raw_parking(spark))
    for build, raw in (
        (W.build_agency_dim, raw_311),
        (W.build_complaint_dim, raw_311),
        (W.build_location_dim, raw_311),
        (W.build_vehicle_dim, raw_parking),
    ):
        assert build(raw).count() >= 1, build.__name__


def test_warm_star_load_compiles_nothing(spark, tmp_path):
    """A second identical star build and warehouse write finds every
    generated class in the codegen cache: the cache holds the load's
    working set, and the sink runs no ``limit(1)`` pre-job (whose stage
    embeds a freshly numbered counter, so it never hits the cache)."""
    from nyc_opendata_etl_spark.queries import pipeline
    from nyc_opendata_etl_spark.sources.sinks import write_warehouse
    from tests.test_harness import SF
    from tools.harness import codegen_compiles

    def load(out):
        raw_311 = pipeline._synth_raw_311(spark, SF)
        raw_parking = pipeline._synth_raw_parking(spark, SF)
        return write_warehouse(W.build_star(spark, raw_311, raw_parking), out)

    first = load(str(tmp_path / "first"))
    assert first["fact_311_complaints"] > 0 and first["fact_parking_tickets"] > 0
    before = codegen_compiles(spark)
    assert load(str(tmp_path / "second")) == first
    assert codegen_compiles(spark) - before == 0
