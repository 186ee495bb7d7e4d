"""Golden end-to-end pipeline tests (SURVEY §5): OBIS-shaped JSON
fixtures -> full pipeline -> conservation invariants + star schema
goldens, mirroring the reference's logged accounting
(valid + errors = input; processed + exported = errors)."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from whale_sightings_spark.operators.clean import dedup_keep_first
from whale_sightings_spark.operators.spatial import oceans_from_wkt
from whale_sightings_spark.operators.validate import validation_counts
from whale_sightings_spark.plans.pipeline import (
    PipelineContext,
    build_star_schema,
    clean_occurrences,
    run_pipeline,
)
from whale_sightings_spark.sources.files import match_raw_files, read_raw_occurrences

# 12 rows: 8 valid (1 dup pair), 3 repairable errors, 1 unrepairable
FIXTURE_ROWS = [
    # valid ISO
    {"occurrenceID": "a1", "eventDate": "1913-03-17", "decimalLatitude": 60.1,
     "decimalLongitude": -150.2, "species": "Delphinapterus leucas", "speciesid": 137115},
    # valid with time
    {"occurrenceID": "a2", "eventDate": "1849-12-04 23:12:00", "decimalLatitude": 61.0,
     "decimalLongitude": -151.0, "species": "Delphinapterus leucas", "speciesid": 137115,
     "vernacularName": "White whale", "waterBody": "Wrong Sea"},
    # valid ISO+T+Z
    {"occurrenceID": "a3", "eventDate": "1849-12-04T23:12:00Z", "decimalLatitude": 10.0,
     "decimalLongitude": 10.0, "species": "Delphinapterus leucas", "speciesid": 137115},
    # valid with offset
    {"occurrenceID": "a4", "eventDate": "1971-01-01 00:00:00+00", "decimalLatitude": 20.0,
     "decimalLongitude": 20.0, "species": "Delphinapterus leucas", "speciesid": 137115,
     "individualCount": 3},
    # duplicate of a1 on (eventDate, lat, lon) — must lose to a1
    {"occurrenceID": "dup", "eventDate": "1913-03-17", "decimalLatitude": 60.1,
     "decimalLongitude": -150.2, "species": "Delphinapterus leucas", "speciesid": 137115},
    # null occurrenceID #1 (gets -1)
    {"occurrenceID": None, "eventDate": "1910-12-24T02:00", "decimalLatitude": 62.5,
     "decimalLongitude": -149.9, "species": "Delphinapterus leucas", "speciesid": 137115},
    # null occurrenceID #2 (gets -2)
    {"occurrenceID": None, "eventDate": "1920-06-06", "decimalLatitude": 63.5,
     "decimalLongitude": -148.9, "species": "Delphinapterus leucas", "speciesid": 137115},
    # valid, extra unknown field dropped by schema projection
    {"occurrenceID": "a5", "eventDate": "1930-01-02", "decimalLatitude": 30.0,
     "decimalLongitude": 30.0, "species": "Delphinapterus leucas", "speciesid": 137115,
     "unknownField": "ignored"},
    # error: year-month (repairable)
    {"occurrenceID": "e1", "eventDate": "1925-11", "decimalLatitude": 40.0,
     "decimalLongitude": 40.0, "species": "Delphinapterus leucas", "speciesid": 137115},
    # error: range with slash (repairable)
    {"occurrenceID": "e2", "eventDate": "1800-01-01/1874-06-24", "decimalLatitude": 41.0,
     "decimalLongitude": 41.0, "species": "Delphinapterus leucas", "speciesid": 137115},
    # error: bare year (repairable)
    {"occurrenceID": "e3", "eventDate": "1985", "decimalLatitude": 42.0,
     "decimalLongitude": 42.0, "species": "Delphinapterus leucas", "speciesid": 137115},
    # error: unrepairable garbage date + missing latitude (2 details)
    {"occurrenceID": "e4", "eventDate": "unknown", "decimalLatitude": None,
     "decimalLongitude": 43.0, "species": "Delphinapterus leucas", "speciesid": 137115},
]

# two disjoint rectangles: north box covers the Alaska-ish points,
# east box covers the (10..45, 10..45) points
OCEANS_WKT = [
    ("North Box", "POLYGON ((-160 55, -140 55, -140 70, -160 70, -160 55))"),
    ("East Box", "POLYGON ((5 5, 50 5, 50 50, 5 50, 5 5))"),
]


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("rawzone")
    whale_dir = d / "beluga_whale"
    whale_dir.mkdir()
    (whale_dir / "1900-01-01--1950-12-31.json").write_text(
        json.dumps({"results": FIXTURE_ROWS[:8]}, indent=4)
    )
    (whale_dir / "1951-01-01--1999-12-31.json").write_text(
        json.dumps({"results": FIXTURE_ROWS[8:]}, indent=4)
    )
    # a file that must be ignored by the range regex
    (whale_dir / "notes.json").write_text(json.dumps({"results": []}))
    return str(d)


@pytest.fixture(scope="module")
def result(spark, raw_dir):
    ctx = PipelineContext(whale="beluga_whale", data_dir=raw_dir)
    oceans = oceans_from_wkt(spark, OCEANS_WKT)
    return run_pipeline(spark, ctx, oceans)


def test_file_pruning(raw_dir):
    assert len(match_raw_files(raw_dir, "beluga_whale", None, None)) == 2
    assert len(match_raw_files(raw_dir, "beluga_whale", "1900-01-01", "1950-12-31")) == 1
    assert len(match_raw_files(raw_dir, "beluga_whale", "1951-01-01", None)) == 1
    assert len(match_raw_files(raw_dir, "beluga_whale", None, "1950-12-31")) == 1


def test_validation_accounting(spark, raw_dir):
    """Reference invariant: Validated N + error rows = input rows;
    e4 contributes 2 details (bad date + missing latitude)."""
    from whale_sightings_spark.operators.validate import validate_occurrences

    raw = read_raw_occurrences(
        spark, match_raw_files(raw_dir, "beluga_whale", None, None)
    )
    assert raw.count() == 12
    valid, errors = validate_occurrences(raw)
    n_valid, n_details = validation_counts(valid, errors)
    assert n_valid == 8
    assert errors.count() == 4
    assert n_details == 5  # e1,e2,e3 one each; e4 two


def test_clean_merge_dedup_and_fills(result):
    rows = {r["occurrenceID"]: r.asDict() for r in result.cleaned.collect()}
    # 8 valid + 3 repaired - 1 dup = 10 surviving rows
    assert len(rows) == 10
    assert "dup" not in rows  # a1 won keep-first
    assert "a1" in rows
    # null ids re-keyed in encounter order
    assert "-1" in rows and "-2" in rows
    assert rows["-1"]["eventDate"] == "1910-12-24"
    assert rows["-2"]["eventDate"] == "1920-06-06"
    # vernacular fill with Title Cased whale name
    assert rows["a1"]["vernacularName"] == "Beluga Whale"
    # supplied vernacular kept
    assert rows["a2"]["vernacularName"] == "White whale"
    # repaired error date parts
    assert rows["e1"]["start_year"] == 1925 and rows["e1"]["end_day"] == 30
    assert rows["e2"]["start_year"] == 1800 and rows["e2"]["end_year"] == 1874
    assert rows["e3"]["start_year"] == 1985 and rows["e3"]["end_month"] == 12
    # ISO normalization of a valid timestamped date (§1.4)
    assert rows["a2"]["eventDate"] == "1849-12-04"
    assert rows["a2"]["date_is_valid"] is True
    assert rows["e3"]["date_is_valid"] is False


def test_spatial_overwrite(result):
    rows = {r["occurrenceID"]: r.asDict() for r in result.cleaned.collect()}
    # waterBody always overwritten by the join (a2 supplied "Wrong Sea")
    assert rows["a2"]["waterBody"] == "North Box"
    assert rows["a1"]["waterBody"] == "North Box"
    assert rows["a3"]["waterBody"] == "East Box"
    assert rows["e1"]["waterBody"] == "East Box"


def test_unrepaired_export_shape(result):
    errs = result.unrepaired_errors.collect()
    assert len(errs) == 1
    e = errs[0].asDict()
    assert e["occurrenceID"] == "e4"
    locs = {d["loc"] for d in e["details"]}
    assert locs == {"eventDate", "decimalLatitude"}


def test_star_schema(result):
    star = build_star_schema(result.cleaned)
    locations = {r["waterBody"]: r["id"] for r in star["locations"].collect()}
    # ids assigned 0.. in first-encounter order; no-match rows -> NULL name row
    assert set(locations.values()) == set(range(len(locations)))
    species = star["species"].collect()
    assert len(species) == 1
    assert species[0]["vernacularName"] == "Beluga Whale"
    fact = star["occurrences"]
    assert fact.count() == 10
    fk_null = fact.filter(F.col("waterBodyId").isNull()).count()
    assert fk_null == 0  # every row got a location id (incl. NULL-name row)
    # conflict-update column subset is fixed (S12)
    from whale_sightings_spark.sources.jdbc import OCCURRENCES_UPDATE_COLS

    assert set(OCCURRENCES_UPDATE_COLS) < set(fact.columns) | {
        "latitude", "longitude"
    }


def test_cli_process_exports_unrepaired_errors(spark, raw_dir, tmp_path):
    """The CLI must not drop error records (reference cleaner.py:248-288):
    `process` writes the unrepaired rows as JSON whose nested details
    round-trip."""
    from whale_sightings_spark.cli import main
    from whale_sightings_spark.sources.files import read_error_json

    out = str(tmp_path / "curated")
    assert main(["process", "beluga_whale", "--data-dir", raw_dir, "--out", out]) == 0
    exported = read_error_json(spark, f"{raw_dir}/beluga_whale/errors").collect()
    assert len(exported) == 1
    doc = exported[0].asDict(recursive=True)
    assert doc["data"]["occurrenceID"] == "e4"
    assert {d["loc"] for d in doc["details"]} == {"eventDate", "decimalLatitude"}
    assert all({"type", "loc", "msg"} <= set(d) for d in doc["details"])


def test_cli_db_loads_star_schema_into_sqlite(spark, raw_dir, tmp_path):
    """End-to-end serving contract: `db --db-url sqlite:///...` emits
    the reference DDL (db.sql:5-44) and loads all three tables from the
    curated parquet that `process` wrote."""
    import sqlite3

    from whale_sightings_spark.cli import main

    assert main(["process", "beluga_whale", "--data-dir", raw_dir]) == 0
    db_path = str(tmp_path / "whales.db")
    rc = main(["db", "beluga_whale", "--data-dir", raw_dir,
               "--db-url", f"sqlite:///{db_path}"])
    assert rc == 0

    con = sqlite3.connect(db_path)
    n_occ = con.execute("SELECT count(*) FROM occurrences").fetchone()[0]
    assert n_occ == 10  # 8 valid + 3 repaired - 1 dup
    species = con.execute("SELECT speciesName, vernacularName FROM species").fetchall()
    assert species == [("Delphinapterus leucas", "Beluga Whale")]
    loc_ids = [r[0] for r in con.execute("SELECT id FROM locations ORDER BY id")]
    assert loc_ids == list(range(len(loc_ids)))  # 0.. surrogate sequence
    # FK integrity: every fact row resolves its location id
    dangling = con.execute(
        "SELECT count(*) FROM occurrences o LEFT JOIN locations l"
        " ON o.waterBodyId = l.id WHERE l.id IS NULL"
    ).fetchone()[0]
    assert dangling == 0
    # idempotent: a second load upserts, never duplicates
    main(["db", "beluga_whale", "--data-dir", raw_dir,
          "--db-url", f"sqlite:///{db_path}"])
    assert con.execute("SELECT count(*) FROM occurrences").fetchone()[0] == n_occ
    con.close()


def test_cli_db_loads_star_schema_into_mysql(spark, raw_dir):
    """The MySQL twin of the SQLite serving-contract test, gated on a
    live server: set SPARK_GRAFT_MYSQL_URL (e.g.
    ``mysql://root:pw@localhost/whales``) to run it; skipped where no
    MySQL service exists (this container). The dialect SQL itself is
    unit-tested unconditionally (test_sources.py)."""
    import os

    import pytest

    db_url = os.environ.get("SPARK_GRAFT_MYSQL_URL")
    if not db_url:
        pytest.skip("no MySQL service: set SPARK_GRAFT_MYSQL_URL to run")
    from whale_sightings_spark.cli import main
    from whale_sightings_spark.sources.ddl import connection_factory_for_url

    factory, dialect = connection_factory_for_url(db_url)
    assert dialect == "mysql"
    try:
        con = factory()
    except Exception as exc:  # driver missing or server unreachable
        pytest.skip(f"MySQL unreachable: {exc}")
    try:
        assert main(["process", "beluga_whale", "--data-dir", raw_dir]) == 0
        rc = main(["db", "beluga_whale", "--data-dir", raw_dir, "--db-url", db_url])
        assert rc == 0
        cur = con.cursor()
        cur.execute("SELECT count(*) FROM occurrences")
        n_occ = cur.fetchone()[0]
        assert n_occ == 10  # 8 valid + 3 repaired - 1 dup
        # idempotent: a second load upserts, never duplicates
        main(["db", "beluga_whale", "--data-dir", raw_dir, "--db-url", db_url])
        cur.execute("SELECT count(*) FROM occurrences")
        assert cur.fetchone()[0] == n_occ
    finally:
        con.close()


_BASE = {"species": "Delphinapterus leucas", "speciesid": 137115,
         "decimalLatitude": 60.0, "decimalLongitude": -150.0}


def _write_zone(data_dir, rows) -> str:
    """A raw zone under ``data_dir`` with one file holding ``rows``."""
    whale_dir = data_dir / "beluga_whale"
    whale_dir.mkdir(parents=True)
    (whale_dir / "1900-01-01--1950-12-31.json").write_text(
        json.dumps({"results": rows}, indent=4)
    )
    return str(data_dir)


def test_cli_db_loads_the_curated_parquet_not_the_raw_zone(spark, raw_dir, tmp_path):
    """`db` reads what `process` wrote: with the raw zone removed after
    `process`, it still loads every curated row. Re-cleaning the raw
    zone instead loaded none."""
    import shutil
    import sqlite3

    from whale_sightings_spark.cli import main

    data_dir = tmp_path / "zone"
    shutil.copytree(f"{raw_dir}/beluga_whale", data_dir / "beluga_whale",
                    ignore=shutil.ignore_patterns("curated*", "errors"))
    assert main(["process", "beluga_whale", "--data-dir", str(data_dir)]) == 0
    for raw_file in (data_dir / "beluga_whale").glob("*.json"):
        raw_file.unlink()
    db_path = str(tmp_path / "whales.db")
    assert main(["db", "beluga_whale", "--data-dir", str(data_dir),
                 "--db-url", f"sqlite:///{db_path}"]) == 0
    con = sqlite3.connect(db_path)
    try:
        assert con.execute("SELECT count(*) FROM occurrences").fetchone()[0] == 10
    finally:
        con.close()


def test_cli_db_keeps_stored_location_ids(spark, tmp_path):
    """A second `db` load encodes water bodies against the stored
    ``locations`` (procedures.sql:4-28): a stored name keeps its id and
    a new one gets ``max(id) + 1``. Numbered from 0 on each load, the
    second zone's first-seen order re-keyed the stored names, and the
    shared name broke the UNIQUE waterBody constraint."""
    import sqlite3

    from whale_sightings_spark.cli import main

    db_url = f"sqlite:///{tmp_path / 'whales.db'}"
    zones = {
        "first": [("x1", "Alpha Sea"), ("x2", "Shared Sea")],
        "second": [("y1", "Shared Sea"), ("y2", "New Sea")],
    }
    for i, (name, sightings) in enumerate(zones.items()):
        rows = [
            {**_BASE, "occurrenceID": oid, "eventDate": f"191{i}-03-1{j}",
             "waterBody": water}
            for j, (oid, water) in enumerate(sightings)
        ]
        data_dir = _write_zone(tmp_path / name, rows)
        assert main(["process", "beluga_whale", "--data-dir", data_dir]) == 0
        assert main(["db", "beluga_whale", "--data-dir", data_dir,
                     "--db-url", db_url]) == 0

    con = sqlite3.connect(str(tmp_path / "whales.db"))
    try:
        locations = dict(con.execute("SELECT waterBody, id FROM locations"))
        facts = dict(con.execute(
            "SELECT o.id, l.waterBody FROM occurrences o"
            " JOIN locations l ON o.waterBodyId = l.id"
        ))
    finally:
        con.close()
    assert locations == {"Alpha Sea": 0, "Shared Sea": 1, "New Sea": 2}
    assert facts == {"x1": "Alpha Sea", "x2": "Shared Sea",
                     "y1": "Shared Sea", "y2": "New Sea"}


class _FakeObis:
    """Offline stand-in for ``ObisClient``: canned per-year statistics,
    and occurrence requests answered from ``records`` filtered to the
    requested inclusive date range and cut at ``size``, as the API
    does."""

    def __init__(self, statistics, records):
        self.statistics = statistics
        self.records = records

    def get(self, endpoint, params):
        start, end = params.get("startdate"), params.get("enddate")
        if endpoint == "/statistics/years":
            return [
                y for y in self.statistics
                if (not start or int(y["year"]) >= int(start[:4]))
                and (not end or int(y["year"]) <= int(end[:4]))
            ]
        assert endpoint == "/occurrence", endpoint
        rows = [
            r for r in self.records
            if (not start or r["eventDate"][:10] >= start)
            and (not end or r["eventDate"][:10] <= end)
        ]
        return {"results": rows[: int(params["size"])]}


def test_cli_obis_lands_batches_that_process_and_db_load(spark, tmp_path, monkeypatch):
    """The `obis` stage offline: planned year batches land as
    ``{start}--{end}.json`` files that the raw-zone listing accepts,
    and `process` then `db` load every fetched record. 2002 alone holds
    more records than one request returns (10,000), so it is fetched by
    itself between two packed batches."""
    import sqlite3

    from whale_sightings_spark.cli import main

    statistics = [{"year": "2000", "records": 6000},
                  {"year": "2001", "records": 3000},
                  {"year": "2002", "records": 12000},
                  {"year": "2003", "records": 500}]
    records = [
        {**_BASE, "occurrenceID": f"o{i}", "eventDate": date,
         "decimalLatitude": 60.0 + i}
        for i, date in enumerate(["2000-02-01", "2000-07-04", "2001-12-31",
                                  "2002-01-01", "2002-05-05", "2003-03-03"])
    ]
    monkeypatch.setattr("whale_sightings_spark.cli.ObisClient",
                        lambda: _FakeObis(statistics, records))
    data_dir = str(tmp_path)
    assert main(["obis", "beluga_whale", "--data-dir", data_dir]) == 0

    landed = sorted((tmp_path / "beluga_whale").glob("*.json"))
    assert [p.name for p in landed] == ["2000-01-01--2001-12-31.json",
                                        "2002-01-01--2002-12-31.json",
                                        "2003-01-01--2003-12-31.json"]
    assert match_raw_files(data_dir, "beluga_whale", None, None) == [
        str(p) for p in landed
    ]
    fetched = sum(len(json.loads(p.read_text())["results"]) for p in landed)
    assert fetched == len(records)

    db_path = str(tmp_path / "whales.db")
    assert main(["process", "beluga_whale", "--data-dir", data_dir]) == 0
    assert main(["db", "beluga_whale", "--data-dir", data_dir,
                 "--db-url", f"sqlite:///{db_path}"]) == 0
    con = sqlite3.connect(db_path)
    try:
        ids = {r[0] for r in con.execute("SELECT id FROM occurrences")}
    finally:
        con.close()
    assert ids == {r["occurrenceID"] for r in records}


def test_process_writes_empty_curated_zone_when_no_raw_file_matches(spark, tmp_path):
    """A whale directory with no files, and dates that match no file,
    both give a 0-row curated parquet with the columns a non-empty
    ingest writes."""
    from whale_sightings_spark.cli import main

    data_dir = _write_zone(tmp_path / "zone", [
        {**_BASE, "occurrenceID": "a", "eventDate": "1913-03-17"},
    ])
    assert main(["process", "beluga_whale", "--data-dir", data_dir]) == 0
    full = spark.read.parquet(f"{data_dir}/beluga_whale/curated")
    assert full.count() == 1

    no_match = str(tmp_path / "no_match")
    assert main(["process", "beluga_whale", "2000-01-01", "2010-12-31",
                 "--data-dir", data_dir, "--out", no_match]) == 0
    empty_dir = tmp_path / "empty"
    (empty_dir / "beluga_whale").mkdir(parents=True)
    assert main(["process", "beluga_whale", "--data-dir", str(empty_dir)]) == 0
    for out in (no_match, f"{empty_dir}/beluga_whale/curated"):
        curated = spark.read.parquet(out)
        assert curated.count() == 0
        assert curated.schema == full.schema


def test_records_failing_beyond_eventdate_are_exported_not_repaired(spark, tmp_path):
    """Only a record whose every detail is on eventDate goes through the
    date repair. One that also fails another field (an individualCount
    of "x", a missing latitude) must land in the error export: merged
    back, it aborted the typed union with CAST_INVALID_INPUT or broke
    the NOT NULL load of the star schema."""
    import sqlite3

    from whale_sightings_spark.cli import main
    from whale_sightings_spark.sources.files import read_error_json

    base = {"species": "Delphinapterus leucas", "speciesid": 137115,
            "decimalLatitude": 60.0, "decimalLongitude": -150.0}
    rows = [
        {**base, "occurrenceID": "ok", "eventDate": "1913-03-17"},
        {**base, "occurrenceID": "bad_count", "eventDate": "1914-03-17",
         "individualCount": "x"},
        {**base, "occurrenceID": "no_lat", "eventDate": "1915-03-17",
         "decimalLatitude": None},
        # a repairable date does not rescue the other failed field
        {**base, "occurrenceID": "month_and_count", "eventDate": "1925-11",
         "individualCount": "x"},
    ]
    data_dir = _write_zone(tmp_path / "raw", rows)
    db_path = str(tmp_path / "whales.db")
    assert main(["process", "beluga_whale", "--data-dir", data_dir]) == 0
    assert main(["db", "beluga_whale", "--data-dir", data_dir,
                 "--db-url", f"sqlite:///{db_path}"]) == 0

    exported = read_error_json(spark, f"{data_dir}/beluga_whale/errors").collect()
    locs = {r["data"]["occurrenceID"]: {d["loc"] for d in r["details"]} for r in exported}
    assert locs == {
        "bad_count": {"individualCount"},
        "no_lat": {"decimalLatitude"},
        "month_and_count": {"eventDate", "individualCount"},
    }
    con = sqlite3.connect(db_path)
    try:
        ids = [r[0] for r in con.execute("SELECT id FROM occurrences")]
    finally:
        con.close()
    assert ids == ["ok"]


def test_run_pipeline_schedules_zero_jobs(spark, raw_dir):
    """With driver-side polygons, building the ingest lineage runs no
    Spark job, whether the dates are given or open: every action waits
    for a sink, and open dates only widen the file listing."""
    import numpy as np

    from whale_sightings_spark.operators.spatial import parse_wkt_polygon

    oceans = [(name, np.array(parse_wkt_polygon(w))) for name, w in OCEANS_WKT]
    sc = spark.sparkContext
    for startdate, enddate in (("1800-01-01", "1999-12-31"), (None, None)):
        ctx = PipelineContext(whale="beluga_whale", startdate=startdate,
                              enddate=enddate, data_dir=raw_dir)
        group = f"lazy-run-pipeline-{startdate}"
        sc.setJobGroup(group, "run_pipeline builds its lineage")
        try:
            run_pipeline(spark, ctx, oceans)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc._jsc.clearJobGroup()
        assert len(jobs) == 0, (
            f"run_pipeline ({startdate}, {enddate}) scheduled {len(jobs)} Spark jobs"
        )


def test_cleaned_lineage_optimizes_without_constraint_inference(spark, result):
    """One optimisation of the cleaned lineage spends under 1 s in the
    constraint rules. With constraint propagation on, PruneFilters
    computed the constraints of the inlined validation array and date
    cascade under the dedup filter, about 5 s per optimisation; plan
    size drives it, not data size."""
    rules = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
    rules.resetMetrics()
    # a new Dataset: the fixture's own QueryExecution may be optimised already
    result.cleaned.select("*")._jdf.queryExecution().optimizedPlan()
    spent_ns = 0
    for line in rules.dumpTimeSpent().splitlines():
        parts = line.split()
        if parts and parts[0].rsplit(".", 1)[-1] in (
            "PruneFilters", "InferFiltersFromConstraints"
        ):
            spent_ns += int(parts[3])  # "<effective> / <total>" time in ns
    assert spent_ns < 1e9, f"constraint rules took {spent_ns / 1e9:.2f} s"


def _plan_shape(df) -> tuple[int, int]:
    """(raw-JSON relations, date-cascade copies) in the optimized plan;
    the cascade is counted by its one ``^(\\d+)/(\\d+)$`` literal."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"Relation \[[^\]]*\] json", plan)), plan.count(r"^(\d+)/(\d+)$")


def test_cleaning_lineage_classifies_each_record_once(result):
    """Each raw scan in the optimized plans carries one classification.
    The cleaned frame filters its channel above the dedup window, so
    each scan has the cascade once; the error export's filter is pushed
    down, so it has it twice. Split into valid and error branches whose
    repair tested the six parts one by one, the cleaned plan held 6
    relations and 23 cascades, the error export 7."""
    relations, cascades = _plan_shape(result.cleaned)
    assert relations <= 3, relations
    assert cascades <= relations, cascades
    relations, cascades = _plan_shape(result.unrepaired_errors)
    assert relations == 1, relations
    assert cascades <= 2, cascades


def _ingest_rows(spark, tmp_path, rows):
    """run_pipeline over one raw-zone file holding ``rows``."""
    ctx = PipelineContext(whale="beluga_whale", startdate="1900-01-01",
                          enddate="1950-12-31",
                          data_dir=_write_zone(tmp_path / "raw", rows))
    return run_pipeline(spark, ctx)


def test_error_export_merges_records_with_identical_data(spark, tmp_path):
    """The export groups unrepaired records by their data columns
    (cleaner.py:257-288): two identical records at different file
    positions export as one object holding both records' details. A
    repaired record contributes exactly one row to the cleaned frame."""
    bad = {**_BASE, "occurrenceID": "bad", "eventDate": "unknown"}
    res = _ingest_rows(spark, tmp_path, [
        bad,
        {**_BASE, "occurrenceID": "ok", "eventDate": "1913-03-17"},
        bad,
        {**_BASE, "occurrenceID": "month", "eventDate": "1925-11",
         "decimalLatitude": 61.0},
    ])
    errs = [r.asDict(recursive=True) for r in res.unrepaired_errors.collect()]
    assert len(errs) == 1
    assert errs[0]["occurrenceID"] == "bad"
    assert [d["msg"] for d in errs[0]["details"]] == [
        "Value error, eventDate could not be parsed."
    ] * 2
    ids = sorted(r["occurrenceID"] for r in res.cleaned.collect())
    assert ids == ["month", "ok"]


def test_repair_with_an_out_of_range_part_is_exported(spark, tmp_path):
    """A date-only error whose split overflows an int part cannot be
    repaired and lands in the error export. Its null part made the
    repair test null, and the record left both the cleaned frame and
    the export."""
    res = _ingest_rows(spark, tmp_path, [
        {**_BASE, "occurrenceID": "huge", "eventDate": "99999999999-05"},
        {**_BASE, "occurrenceID": "ok", "eventDate": "1913-03-17"},
    ])
    assert [r["occurrenceID"] for r in res.unrepaired_errors.collect()] == ["huge"]
    assert [r["occurrenceID"] for r in res.cleaned.collect()] == ["ok"]


def test_notebook_parity_queries(result):
    """Notebook cells 9-14 queries over the star schema: species join,
    location merge, valid-date sightings-per-year."""
    from whale_sightings_spark.plans.notebook import (
        sightings_per_year,
        species_sightings,
    )

    star = build_star_schema(result.cleaned)
    joined = species_sightings(
        star["occurrences"], star["species"], star["locations"], 137115
    )
    rows = joined.collect()
    assert len(rows) == 10  # every fact row is this species
    assert all(r["speciesName"] == "Delphinapterus leucas" for r in rows)
    assert {"eventId", "date", "waterBody", "latitude", "longitude"} <= set(joined.columns)

    per_year = {r["date"]: r["num_sightings"] for r in sightings_per_year(joined).collect()}
    # valid ISO dates only: a1(1913), a2(1849), a3(1849), a4(1971),
    # a5(1930), -1(1910), -2(1920); repaired e1-e3 have non-ISO dates
    assert per_year == {1849: 2, 1913: 1, 1971: 1, 1930: 1, 1910: 1, 1920: 1}


def test_dedup_is_deterministic_across_runs(result):
    c1 = sorted(r["occurrenceID"] for r in result.cleaned.collect())
    c2 = sorted(r["occurrenceID"] for r in dedup_keep_first(result.cleaned).collect())
    assert c1 == c2


def test_spatial_join_accepts_driver_side_polygons(spark):
    """The list form (name, ring) must assign identically to the S10
    DataFrame form — q28 hands literal rings straight to the operator."""
    import numpy as np

    from whale_sightings_spark.operators.spatial import (
        parse_wkt_polygon,
        spatial_join_water_body,
    )

    wkt = [
        ("West Box", "POLYGON ((-10 -10, 0 -10, 0 10, -10 10, -10 -10))"),
        ("East Box", "POLYGON ((0 -10, 10 -10, 10 10, 0 10, 0 -10))"),
    ]
    pts = spark.createDataFrame(
        [(1, -5.0, 0.0), (2, 5.0, 0.0), (3, 55.0, 55.0), (4, None, 3.0)],
        "id int, lon double, lat double",
    )
    from_df = spatial_join_water_body(
        pts, oceans_from_wkt(spark, wkt), lon_col="lon", lat_col="lat"
    )
    from_list = spatial_join_water_body(
        pts,
        [(name, np.array(parse_wkt_polygon(w))) for name, w in wkt],
        lon_col="lon",
        lat_col="lat",
    )
    expect = {1: "West Box", 2: "East Box", 3: None, 4: None}
    got_df = {r["id"]: r["waterBody"] for r in from_df.collect()}
    got_list = {r["id"]: r["waterBody"] for r in from_list.collect()}
    assert got_df == expect
    assert got_list == expect


def test_ray_cast_counts_edge_points_as_inside():
    """A point on a polygon's edge or vertex intersects it, as under the
    reference's ``sjoin(predicate='intersects')``, on every side of the
    ring. The crossing rule alone dropped the right and top edges."""
    import numpy as np

    from whale_sightings_spark.operators.spatial import _ray_cast, parse_wkt_polygon

    ring = np.array(parse_wkt_polygon("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    expect = {(0, 5): True, (5, 0): True, (0, 0): True,
              (10, 5): True, (5, 10): True, (10, 10): True,
              (5, 5): True, (11, 5): False, (0, 11): False}
    lon, lat = (np.array(c, dtype="float64") for c in zip(*expect))
    assert dict(zip(expect, _ray_cast(lon, lat, ring).tolist())) == expect


def _shp_bytes(rings):
    """Synthesize a minimal polygon shapefile (one outer ring per
    record) — the fixture for the pure-Python .shp reader."""
    import struct

    recs = b""
    for i, ring in enumerate(rings):
        xs, ys = [p[0] for p in ring], [p[1] for p in ring]
        content = struct.pack("<i", 5)
        content += struct.pack("<4d", min(xs), min(ys), max(xs), max(ys))
        content += struct.pack("<ii", 1, len(ring))  # 1 part
        content += struct.pack("<i", 0)  # part offset
        for x, y in ring:
            content += struct.pack("<2d", x, y)
        recs += struct.pack(">ii", i + 1, len(content) // 2) + content
    total_words = (100 + len(recs)) // 2
    hdr = struct.pack(">i", 9994) + b"\x00" * 20 + struct.pack(">i", total_words)
    hdr += struct.pack("<ii", 1000, 5) + struct.pack("<8d", *([0.0] * 8))
    assert len(hdr) == 100
    return hdr + recs


def _dbf_bytes(names, field="NAME", width=32):
    import struct

    hdr_len = 32 + 32 + 1
    rec_len = 1 + width
    hdr = struct.pack(
        "<B3BIHH", 0x03, 26, 8, 15, len(names), hdr_len, rec_len
    ) + b"\x00" * 20
    fld = field.encode("ascii").ljust(11, b"\x00") + b"C" + b"\x00" * 4
    fld += struct.pack("<B", width) + b"\x00" * 15
    body = b""
    for n in names:
        body += b" " + n.encode("latin-1").ljust(width)
    return hdr + fld + b"\x0d" + body + b"\x1a"


def test_shp_reader_round_trips_against_wkt_twin(spark, tmp_path):
    """Round-8 (VERDICT r7 #6): S10 from the reference's actual on-disk
    format — a synthesized 2-polygon .shp (+ .dbf names) must load into
    the same dim table as the WKT form and drive an identical spatial
    join."""
    from whale_sightings_spark.operators.spatial import (
        oceans_from_shp,
        parse_wkt_polygon,
        read_dbf_strings,
        read_shp_polygons,
        spatial_join_water_body,
    )

    wkt = [
        ("West Box", "POLYGON ((-10 -10, 0 -10, 0 10, -10 10, -10 -10))"),
        ("East Box", "POLYGON ((0 -10, 10 -10, 10 10, 0 10, 0 -10))"),
    ]
    rings = [parse_wkt_polygon(w) for _n, w in wkt]
    shp = tmp_path / "oceans.shp"
    shp.write_bytes(_shp_bytes(rings))
    (tmp_path / "oceans.dbf").write_bytes(_dbf_bytes([n for n, _w in wkt]))

    assert read_shp_polygons(str(shp)) == rings
    assert read_dbf_strings(str(tmp_path / "oceans.dbf")) == [
        "West Box",
        "East Box",
    ]
    from_shp = oceans_from_shp(spark, str(shp))
    from_wkt = oceans_from_wkt(spark, wkt)
    assert sorted(map(tuple, from_shp.collect())) == sorted(
        map(tuple, from_wkt.collect())
    )
    pts = spark.createDataFrame(
        [(1, -5.0, 0.0), (2, 5.0, 0.0), (3, 55.0, 55.0)],
        "id int, lon double, lat double",
    )
    got = {
        r["id"]: r["waterBody"]
        for r in spatial_join_water_body(
            pts, from_shp, lon_col="lon", lat_col="lat"
        ).collect()
    }
    assert got == {1: "West Box", 2: "East Box", 3: None}
