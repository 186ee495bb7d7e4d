"""Unit matrix for the date subsystem (SURVEY §5: F3 branch matrix,
P2's 8 regexes, F1 accepted formats). The pure-Python spec twin
``split_dates_py`` is the oracle; the Spark cascade the ingest and q10
run (``with_date_parts``) must agree on every branch, and hypothesis
fuzzes the space."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from whale_sightings_spark.functions.dates import (
    BAD_DATE_FORMATS,
    date_is_valid,
    is_bad_date_format,
    normalize_event_date,
    parse_event_date,
    split_dates_duckdb_sql,
    split_dates_py,
    with_date_parts,
)
from whale_sightings_spark.schemas import DATE_PARTS_FIELDS

# every branch of the reference's cleaner.py:76-158 + validate.py:41-58
MATRIX = [
    # textual month shapes
    "January 2000",
    "Jan 2000",
    "2000 January",
    "2000 Jan",
    "07 January",
    "7 Jan",
    "January 07",
    "Jan 7",
    "January, 2000",          # comma strip (F4)
    "  January 2000  ",       # whitespace strip (F4)
    "29 February",            # invalid for strptime's year 1900 -> zeros
    "28 February",            # valid at 1900
    "31 April",               # day overflow -> zeros
    "Foobar 2000",            # non-month name -> zeros
    "13 Smarch",              # non-month name -> zeros
    # full-range shapes
    "1800-01-01/1874-06-24",
    "1972-07-10T05:00/1972-07-14",
    "1972-07-10T05:00/1972-07-14T09:30",
    "1972-07/1972-08",        # sides not d-d-d -> zeros
    "1972-07-10/1973/1974",   # 3 slash-parts -> zeros
    # year-range shapes
    "1952/1955",
    "1952/abcd",              # -> zeros
    # year-month / year-year dash shapes
    "1925-11",
    "2003-05",
    "2004-02",                # leap-year February -> end_day 29
    "1900-02",                # non-leap century -> end_day 28
    "2000-02",                # leap century -> end_day 29
    "1920-1950",              # month>12 -> year range
    "1920-0",                 # month 0 -> else branch (0 end year)
    "Nov-2000",               # non-int parts -> zeros
    # full-date shape
    "1913-03-17",
    "1913-3-7",
    "1972-13-45",             # no calendar check in this branch
    "1972-07-10T05:00",       # T-tail not stripped here -> zeros
    "1-2-3-4",                # 4 dash parts -> zeros
    # bare year
    "1985",
    "0985",
    # garbage
    "unknown",
    "",
    "June 1758 or so",
]


def _spark_split(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    out = with_date_parts(df, src="raw").collect()
    return {r["raw"]: tuple(r[f] for f in DATE_PARTS_FIELDS) for r in out}


def test_split_dates_matrix(spark):
    got = _spark_split(spark, MATRIX)
    for raw in MATRIX:
        assert got[raw] == split_dates_py(raw), f"with_date_parts({raw!r})"


def test_split_dates_duckdb_twin_matches_spec():
    con = duckdb.connect()
    exprs = split_dates_duckdb_sql("raw")
    select = ", ".join(f"{sql} AS {name}" for name, sql in exprs.items())
    con.execute("CREATE TABLE t (raw VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in MATRIX])
    rows = con.execute(f"SELECT raw, {select} FROM t").fetchall()
    for raw, *parts in rows:
        assert tuple(parts) == split_dates_py(raw), f"duckdb split_dates({raw!r})"


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        alphabet=list("0123456789-/ TZabcdefghijklmnopqrstuvwxyzJFMASOND:,"),
        max_size=24,
    )
)
def test_split_dates_py_total(raw):
    """The spec function is total: always a 6-int tuple, never raises."""
    out = split_dates_py(raw)
    assert isinstance(out, tuple) and len(out) == 6
    assert all(isinstance(v, int) for v in out)


def _textual_day_month_inputs():
    """Every day x month-name x order for the textual day-month branch:
    locks the strptime-default-1900 calendar semantics (Feb 29 invalid,
    day-31 only in 31-day months) exhaustively."""
    import calendar

    names = [calendar.month_abbr[i] for i in range(1, 13)] + [
        calendar.month_name[i] for i in range(1, 13)
    ]
    out = []
    for d in range(1, 32):
        for nm in names:
            out.append(f"{d} {nm}")
            out.append(f"{nm} {d}")
    return out


def test_split_dates_textual_day_month_1900_calendar(spark):
    """Exhaustive day-month sweep (1488 inputs): Spark cascade == spec.
    Feb 29 and day-31-in-30-day-months must yield zeros (1900 calendar);
    valid days pin both bounds to 1900."""
    inputs = _textual_day_month_inputs()
    got = _spark_split(spark, inputs)
    n_zero = n_valid = 0
    for raw in inputs:
        expect = split_dates_py(raw)
        assert got[raw] == expect, f"with_date_parts({raw!r})"
        if expect == (0, 0, 0, 0, 0, 0):
            n_zero += 1
        else:
            assert expect[0] == expect[3] == 1900
            n_valid += 1
    # 1900 calendar: 31*12 - (3+1+1+1+1) day-overflow combos = 365 valid
    # day/month pairs, x2 orders x2 name forms
    assert n_valid == 365 * 4
    assert n_zero == len(inputs) - 365 * 4


def test_split_dates_textual_day_month_duckdb_twin():
    """Same exhaustive sweep through the DuckDB oracle twin."""
    inputs = _textual_day_month_inputs()
    con = duckdb.connect()
    exprs = split_dates_duckdb_sql("raw")
    select = ", ".join(f"{sql} AS {name}" for name, sql in exprs.items())
    con.execute("CREATE TABLE t (raw VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in inputs])
    for raw, *parts in con.execute(f"SELECT raw, {select} FROM t").fetchall():
        assert tuple(parts) == split_dates_py(raw), f"duckdb split_dates({raw!r})"


def test_bad_format_regexes(spark):
    cases = {
        "1990-03": True,
        "03-1990": True,
        "1985": True,
        "20 Nov": True,
        "Oct 15": True,
        "Oct 1970": True,
        "1970 Oct": True,
        "1800-01-01/1874-06-24": True,
        "1913-03-17": False,
        "1849-12-04 23:12:00": False,
        "1910-12-24T02:00": False,
        "November 20 1990": False,  # not rejected by any pattern
    }
    df = spark.createDataFrame([(k,) for k in cases], "d string")
    got = {r["d"]: r["bad"] for r in df.select("d", is_bad_date_format(F.col("d")).alias("bad")).collect()}
    assert got == cases


def test_parse_event_date_accepted_formats(spark):
    cases = {
        "1913-03-17": "1913-03-17",
        "1849-12-04 23:12:00": "1849-12-04",
        "1849-12-04T23:12:00": "1849-12-04",
        "1849-12-04T23:12:00Z": "1849-12-04",
        "1971-01-01 00:00:00+00": "1971-01-01",
        "1910-12-24T02:00": "1910-12-24",
        "November 20 1990": "1990-11-20",
        "garbage": None,
        "1925-11": None,
    }
    df = spark.createDataFrame([(k,) for k in cases], "d string")
    got = {
        r["d"]: r["iso"]
        for r in df.select("d", normalize_event_date(parse_event_date(F.col("d"))).alias("iso")).collect()
    }
    assert got == cases


def test_date_is_valid(spark):
    df = spark.createDataFrame(
        [("1913-03-17",), ("1985",), ("1925-11",), (None,)], "d string"
    )
    rows = df.select("d", date_is_valid(F.col("d")).alias("ok")).collect()
    by = {r["d"]: r for r in rows}
    assert by["1913-03-17"]["ok"] is True
    assert by["1985"]["ok"] is False
    assert by["1925-11"]["ok"] is False
    assert by[None]["ok"] is False


def test_bad_formats_count():
    assert len(BAD_DATE_FORMATS) == 8
