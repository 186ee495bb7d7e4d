"""Unit tests: OBIS batch planner (S4 greedy packing semantics,
reference obis.py:166-203) and the batched JDBC upsert writer (S12/R8)
against SQLite (the container has no MySQL; dialect is parameterized)."""

from __future__ import annotations

import os
import sqlite3
import tempfile

from whale_sightings_spark.sources.jdbc import (
    OCCURRENCES_UPDATE_COLS,
    mysql_upsert_sql,
    sqlite_upsert_sql,
    upsert_via_foreach_partition,
)
from whale_sightings_spark.sources.obis import Batch, pad_date_format, plan_batches


def years(*pairs):
    return [{"year": str(y), "records": n} for y, n in pairs]


def test_single_request_when_under_size():
    batches, start, end = plan_batches(years((2000, 10), (2001, 20)), None, None, size=100)
    assert batches == [Batch("2000", "2001")]
    assert (start, end) == ("2000", "2001")


def test_explicit_bounds_passthrough():
    batches, start, end = plan_batches(
        years((2000, 10)), "1999-01-01", "2002-12-31", size=100
    )
    assert batches == [Batch("1999-01-01", "2002-12-31")]


def test_greedy_packing_flushes_on_overflow():
    # 60+50 > 100 -> first batch [2000..2000]; then 50+30 <= 100 packed;
    # tail flush covers through the end bound
    batches, _, _ = plan_batches(
        years((2000, 60), (2001, 50), (2002, 30)), None, None, size=100
    )
    assert batches == [Batch("2000", "2000"), Batch("2001", "2002")]


def test_large_single_year_gets_own_request():
    batches, _, _ = plan_batches(
        years((2000, 10), (2001, 500), (2002, 20)), None, None, size=100
    )
    assert batches == [
        Batch("2000", "2000"),   # flush of the running batch
        Batch("2001", "2001"),   # the large year alone
        Batch("2002", "2002"),   # tail flush (start reset after large year)
    ]


def test_large_year_first_no_empty_flush():
    batches, _, _ = plan_batches(years((2000, 500), (2001, 20)), None, None, size=100)
    assert batches == [Batch("2000", "2000"), Batch("2001", "2001")]


def test_pad_date_format():
    assert pad_date_format("1999", "2001") == ("1999-01-01", "2001-12-31")
    assert pad_date_format("1999-02-03", "2001-04-05") == ("1999-02-03", "2001-04-05")


def test_mysql_upsert_sql_column_subset():
    sql = mysql_upsert_sql("occurrences", ("id", "eventDate", "waterBodyId"), OCCURRENCES_UPDATE_COLS)
    assert "ON DUPLICATE KEY UPDATE" in sql
    # FK columns never updated on conflict (storage.py:71-76)
    assert "waterBodyId=VALUES" not in sql
    assert "speciesId=VALUES" not in sql
    assert "eventDate=VALUES(eventDate)" in sql


def test_sqlite_upsert_roundtrip(spark):
    path = os.path.join(tempfile.mkdtemp(), "t.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE kv (id TEXT PRIMARY KEY, v INTEGER, fk INTEGER)")
    con.execute("INSERT INTO kv VALUES ('a', 1, 100)")
    con.commit()
    con.close()

    df = spark.createDataFrame(
        [("a", 10, 999), ("b", 20, 200)], "id string, v int, fk int"
    ).coalesce(1)  # sqlite: single-writer file lock
    sql = sqlite_upsert_sql("kv", ("id", "v", "fk"), ("v",), ("id",))
    upsert_via_foreach_partition(df, sql, lambda: sqlite3.connect(path))

    con = sqlite3.connect(path)
    rows = dict(
        (r[0], (r[1], r[2])) for r in con.execute("SELECT id, v, fk FROM kv").fetchall()
    )
    con.close()
    # 'a' conflict: v updated, fk NOT updated (subset semantics)
    assert rows["a"] == (10, 100)
    assert rows["b"] == (20, 200)


def test_partitioned_curated_zone_prunes(spark, tmp_path):
    """R1 at scale: year-partitioned curated layout + Catalyst partition
    pruning replaces filename-range pruning."""
    from pyspark.sql import functions as F

    from whale_sightings_spark.sources.files import write_curated_parquet

    df = spark.range(100).select(
        F.col("id"),
        (F.lit(1990) + (F.col("id") % 4)).cast("int").alias("start_year"),
    )
    out = str(tmp_path / "curated")
    write_curated_parquet(df, out, partition_by=("start_year",))

    back = spark.read.parquet(out).filter(F.col("start_year") == 1991)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "1991" in plan
    assert back.count() == 25
    # only the matching partition directory is listed in the scan
    import re as _re

    files_read = back.select(F.input_file_name()).distinct().collect()
    assert all("start_year=1991" in r[0] for r in files_read)


def test_curated_csv_roundtrip(spark, tmp_path):
    """S8/S9: curated CSV checkpoint survives a write/read cycle with
    the declared schema."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from whale_sightings_spark.sources.files import (
        read_curated_csv,
        write_curated_csv,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), True),
            T.StructField("eventDate", T.StringType(), True),
            T.StructField("n", T.IntegerType(), True),
        ]
    )
    df = spark.createDataFrame(
        [("a", "1990-01-01", 1), ("b", "05/06/1990", 2), (None, None, None)],
        schema,
    )
    out = str(tmp_path / "curated_csv")
    write_curated_csv(df, out)
    back = read_curated_csv(spark, out, schema)
    assert back.schema == schema
    got = sorted(
        [tuple(r) for r in back.collect()], key=lambda t: (t[0] is None, str(t[0]))
    )
    want = sorted(
        [tuple(r) for r in df.collect()], key=lambda t: (t[0] is None, str(t[0]))
    )
    assert got == want


def test_compact_parquet_clusters_and_shrinks(spark, sf_dir, tmp_path):
    """Compaction merges a fragmented zone into few files whose
    cluster-key envelopes are disjoint — the precondition for
    footer-stats data skipping."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from whale_sightings_spark.sources.files import compact_parquet

    from whale_sightings_spark.schemas import load_table

    events = load_table(spark, sf_dir, "events")
    frag = str(tmp_path / "fragmented")
    # simulate many tiny incremental writes, unclustered
    events.repartition(64).write.mode("overwrite").parquet(frag)
    n_in = len([f for f in Path(frag).rglob("*.parquet")])
    assert n_in >= 64

    out = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, frag, out, ["ts"], target_file_mb=1)
    assert n_out < n_in

    # per-file ts envelopes from the parquet footers: sorted by min,
    # each file's max must not overlap the next file's min
    envelopes = []
    for f in sorted(Path(out).rglob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "ts" and col.statistics is not None:
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if mins:
            envelopes.append((min(mins), max(maxs)))
    assert len(envelopes) == n_out
    envelopes.sort()
    for (lo1, hi1), (lo2, hi2) in zip(envelopes, envelopes[1:]):
        assert hi1 <= lo2, "file envelopes overlap - clustering broken"

    # row fidelity
    assert spark.read.parquet(out).count() == events.count()


def test_zorder_compaction_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order layout: after compacting on the Morton key of
    (user_id, ts), per-file envelopes are narrow on BOTH dimensions,
    whereas 1-D ts clustering leaves user_id envelopes at full width."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from whale_sightings_spark.operators.zorder import with_zorder_key
    from whale_sightings_spark.schemas import load_table
    from whale_sightings_spark.sources.files import compact_parquet

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("ts_s")
    )
    zkeyed = with_zorder_key(events, ["user_id", "ts_s"])
    frag = str(tmp_path / "zfrag")
    zkeyed.repartition(16).write.mode("overwrite").parquet(frag)
    out = str(tmp_path / "zorder")
    n_out = compact_parquet(spark, frag, out, ["z_key"], n_files=8)
    assert n_out >= 4, "need several files for envelope statistics"

    def envelopes(path, col):
        envs = []
        for f in sorted(Path(path).rglob("*.parquet")):
            md = pq.ParquetFile(str(f)).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    cc = md.row_group(rg).column(ci)
                    if cc.path_in_schema == col and cc.statistics is not None:
                        mins.append(cc.statistics.min)
                        maxs.append(cc.statistics.max)
            if mins:
                envs.append((min(mins), max(maxs)))
        return envs

    stats = events.agg(
        F.min("user_id"), F.max("user_id"), F.min("ts_s"), F.max("ts_s")
    ).collect()[0]
    u_range = stats[1] - stats[0]
    t_range = stats[3] - stats[2]

    def mean_width(envs, full):
        return sum(hi - lo for lo, hi in envs) / len(envs) / full

    u_frac = mean_width(envelopes(out, "user_id"), u_range)
    t_frac = mean_width(envelopes(out, "ts_s"), t_range)
    # both dimensions must be materially narrower than the full range;
    # perfect 1-D sorting would give ~1/n_files on one dim and ~1.0 on
    # the other — z-order trades a bit of each for locality on both
    assert u_frac < 0.7, f"user_id envelopes too wide: {u_frac:.2f}"
    assert t_frac < 0.7, f"ts envelopes too wide: {t_frac:.2f}"

    # row fidelity
    assert spark.read.parquet(out).count() == events.count()


def test_schema_evolution_merge_and_declared_projection(spark, tmp_path):
    # the curated-zone contract for rolling re-ingestion: files written
    # before a column existed coexist with files written after. Merge
    # reads union the schemas (old rows null-fill), declared-schema
    # reads stay pinned to their version.
    from pyspark.sql import types as T

    from whale_sightings_spark.sources.files import read_curated_parquet

    out = str(tmp_path / "zone")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, species string"
    )
    v1.write.mode("overwrite").parquet(out)
    v2 = spark.createDataFrame(
        [(3, "c", 0.5)], "id long, species string, confidence double"
    )
    v2.write.mode("append").parquet(out)

    merged = read_curated_parquet(spark, out)
    assert set(merged.columns) == {"id", "species", "confidence"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].confidence is None and rows[2].confidence is None
    assert rows[3].confidence == 0.5

    pinned_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("species", T.StringType()),
        ]
    )
    pinned = read_curated_parquet(spark, out, schema=pinned_schema)
    assert pinned.columns == ["id", "species"]
    assert pinned.count() == 3


def test_raw_scan_reads_the_zone_once(spark, tmp_path):
    """One scan of a raw-zone file reads its bytes once. Spark's exact
    string parsing re-read the multiLine document for every JSON number
    parsed into the all-string raw schema (about 26x on a 1 MB zone).
    Number text is normalised as Python's json.load does, and validation
    casts it to the same doubles."""
    from whale_sightings_spark.operators.validate import validate_occurrences
    from whale_sightings_spark.sources.files import read_raw_occurrences

    coords = [("60.10", "1e2"), ("-7.250", "-1.5E1"), ("0", "179.9999999")]
    records = ",\n".join(
        f'{{"occurrenceID": "o{i}", "eventDate": "1913-03-17", '
        f'"decimalLatitude": {lat}, "decimalLongitude": {lon}, '
        f'"species": "Delphinapterus leucas", "speciesid": 137115, '
        f'"individualCount": {i}}}'
        for i, (lat, lon) in enumerate(coords * 100)
    )
    path = tmp_path / "1900-01-01--1950-12-31.json"
    path.write_text('{"results": [\n' + records + "\n]}")

    raw = read_raw_occurrences(spark, [str(path)])
    sc = spark.sparkContext
    group = "raw-scan-bytes"
    sc.setJobGroup(group, "one raw-zone scan")
    try:
        raw.write.format("noop").mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    tracker, store = sc.statusTracker(), jsc.statusStore()
    read = sum(
        store.lastStageAttempt(sid).inputBytes()
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    )
    assert 0 < read <= 1.1 * path.stat().st_size, (read, path.stat().st_size)

    valid, errors = validate_occurrences(raw)
    assert errors.count() == 0
    got = {
        (r["decimalLatitude"], r["decimalLongitude"])
        for r in valid.select("decimalLatitude", "decimalLongitude").collect()
    }
    assert got == {(60.1, 100.0), (-7.25, -15.0), (0.0, 179.9999999)}


def test_corrupt_raw_file_survives_and_is_audited(spark, tmp_path):
    # a malformed raw-zone file must not kill ingestion (PERMISSIVE
    # read contributes zero rows) AND must be surfaced by the audit so
    # the ingest job can alert instead of silently under-counting
    import json

    from whale_sightings_spark.sources.files import (
        audit_raw_zone,
        read_raw_occurrences,
    )

    good = tmp_path / "2000-01-01--2000-12-31.json"
    good.write_text(json.dumps({"results": [
        {"occurrenceID": "a1", "eventDate": "2000-05-01",
         "decimalLatitude": 1.0, "decimalLongitude": 2.0,
         "species": "Delphinapterus leucas", "speciesid": 137115},
    ]}, indent=4))
    bad = tmp_path / "2001-01-01--2001-12-31.json"
    bad.write_text('{"results": [ TRUNCATED GARBAGE')
    noresults = tmp_path / "2002-01-01--2002-12-31.json"
    noresults.write_text(json.dumps({"other": 1}))

    paths = [str(good), str(bad), str(noresults)]
    rows = read_raw_occurrences(spark, paths).collect()
    assert [r["occurrenceID"] for r in rows] == ["a1"]

    audit = {r["file"].split("/")[-1]: r["reason"]
             for r in audit_raw_zone(spark, paths).collect()}
    assert audit == {
        bad.name: "malformed_json",
        noresults.name: "missing_results",
    }


def test_live_jdbc_roundtrip_against_embedded_derby(spark, tmp_path):
    """S11/S15 LIVE: a real JDBC round trip through Spark's JDBC source
    against the embedded Apache Derby engine that ships in Spark's own
    jars — no external service needed. Covers the reflection contract
    the SQLite DB-API test can't: Spark-side JDBC write, schema
    reflection on read, predicate pushdown INTO the database scan, and
    the fail-fast on a missing table (reference storage.py:40-49).
    The MySQL upsert dialect itself stays covered by
    test_mysql_upsert_sql_column_subset + the SQLite round trip."""
    import pytest

    from whale_sightings_spark.sources.jdbc import read_jdbc, write_jdbc_append

    url = f"jdbc:derby:{tmp_path}/whalesdb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.createDataFrame(
        [(1, "beluga", 4.5), (2, "narwhal", 4.2), (3, "orca", 7.6)],
        "id int, name string, length_m double",
    )
    write_jdbc_append(df, url, "species_dim", driver=driver)

    back = read_jdbc(spark, url, "species_dim", driver=driver)
    # schema reflection: names preserved, types round-tripped
    assert set(back.columns) == {"ID", "NAME", "LENGTH_M"} or set(
        back.columns
    ) == {"id", "name", "length_m"}
    got = sorted(tuple(r) for r in back.collect())
    assert got == [(1, "beluga", 4.5), (2, "narwhal", 4.2), (3, "orca", 7.6)]

    # predicate pushdown reaches the JDBC scan (Catalyst -> WHERE)
    cols = {c.lower(): c for c in back.columns}
    pruned = back.filter(back[cols["id"]] > 1).select(cols["name"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan" in plan, plan
    assert sorted(r[0] for r in pruned.collect()) == ["narwhal", "orca"]

    # append is append (no silent truncate), and reflection sees it
    write_jdbc_append(
        spark.createDataFrame([(4, "minke", 8.8)], "id int, name string, length_m double"),
        url,
        "species_dim",
        driver=driver,
    )
    assert read_jdbc(spark, url, "species_dim", driver=driver).count() == 4

    # fail-fast on a missing table — the reference's reflection check
    with pytest.raises(Exception):
        read_jdbc(spark, url, "no_such_table", driver=driver).collect()
