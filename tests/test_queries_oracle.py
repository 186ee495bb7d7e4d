"""Oracle-differential tests (SURVEY §5, driver t2 model): run every
registered query on Spark and its ANSI-SQL twin on DuckDB over the same
parquet tables, compare row count + order-insensitive values."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from whale_sightings_spark.plans.queries import oracle_sql, queries
from whale_sightings_spark.schemas import TESTDATA_TABLES

QUERIES = queries()
ORACLE_SQL = oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, int):
        return int(v)
    return str(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    # null-safe total order: None sorts first within a column
    key = lambda row: tuple((v is not None, str(type(v)), v) for v in row)  # noqa: E731
    return sorted(normed, key=key), [cols[i] for i in order]


def run_compare(spark, duck, name, sf_dir):
    sdf = QUERIES[name](spark, sf_dir)
    s_rows = [tuple(r) for r in sdf.collect()]
    s_cols = sdf.columns
    d = duck.execute(ORACLE_SQL[name])
    d_cols = [c[0] for c in d.description]
    d_rows = d.fetchall()

    s_norm, s_sorted_cols = _norm_rows(s_cols, s_rows)
    d_norm, d_sorted_cols = _norm_rows(d_cols, d_rows)

    assert s_sorted_cols == d_sorted_cols, f"{name}: column mismatch {s_sorted_cols} vs {d_sorted_cols}"
    assert len(s_norm) == len(d_norm), f"{name}: row count {len(s_norm)} vs {len(d_norm)}"
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(spark, duck, name, sf_dir):
    run_compare(spark, duck, name, sf_dir)


def test_every_query_has_entry():
    # queries without an oracle get the driver's weaker rows-only check —
    # keep that set deliberately small and known
    no_oracle = set(QUERIES) - set(ORACLE_SQL)
    assert all(n.startswith(("stream_", "ann_", "minhash_", "simhash_")) for n in no_oracle), no_oracle


def test_q40_hour_frame_keeps_sub_second_precision(spark, tmp_path):
    """Two events 3600.8 s apart fall outside each other's one-hour
    RANGE frame, though truncating both to whole seconds puts them
    3600 s apart, inside it."""
    con = duckdb.connect()
    path = tmp_path / "events.parquet"
    con.execute(
        f"""COPY (
            SELECT event_id::BIGINT AS event_id, ts,
                   user_id::BIGINT AS user_id, event_type,
                   value::DOUBLE AS value
            FROM (VALUES
                (0, TIMESTAMP '2024-01-01 00:00:00.1', 0, 'view', 1.0),
                (1, TIMESTAMP '2024-01-01 01:00:00.9', 0, 'click', 2.0),
                (2, TIMESTAMP '2024-01-02 00:00:00.5', 10, 'view', 3.0),
                (3, TIMESTAMP '2024-01-02 00:59:59.9', 10, 'buy', 4.0)
            ) AS t(event_id, ts, user_id, event_type, value)
        ) TO '{path}' (FORMAT parquet)"""
    )
    con.execute(f"CREATE VIEW events AS SELECT *, '{{}}' AS props FROM '{path}'")
    rows = {r["event_id"]: r for r in QUERIES["q40_moving_avg"](spark, str(tmp_path)).collect()}
    assert (rows[1]["avg_1h"], rows[1]["n_1h"]) == (2.0, 1)
    assert (rows[3]["avg_1h"], rows[3]["n_1h"]) == (3.5, 2)
    run_compare(spark, con, "q40_moving_avg", str(tmp_path))
