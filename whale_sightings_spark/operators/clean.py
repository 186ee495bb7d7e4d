"""Cleaning operators (SURVEY.md §2: F12/F15 error explode, P6/P7 repair
split, U1 union, W2 keep-first dedup, W1 surrogate keys, F7/F8 fills).

Reference: ``whalefinder/cleaner.py`` — reimplemented as lazy DataFrame
lineage with explicit windows over the deterministic ingest ordinal
(SURVEY §7.3.1) wherever pandas relied on global row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.functions.dates import date_is_valid, with_date_parts
from whale_sightings_spark.operators.validate import ORDINAL_COLS
from whale_sightings_spark.schemas import DATE_PARTS_FIELDS

#: the keep-first dedup key (reference cleaner.py:353-354)
DEDUP_KEYS = ("eventDate", "decimalLatitude", "decimalLongitude")


def explode_error_details(errors: DataFrame) -> DataFrame:
    """F12/F15: flatten errors×details into one row per detail with
    ``detail_type/detail_loc/detail_msg`` columns (the Spark analog of
    the reference's MultiIndex build, cleaner.py:214-245).

    ``detail_dates_only`` carries, onto every detail row, whether all of
    the record's details are on ``eventDate`` — the only field the
    repair pass can fix."""
    data_cols = [c for c in errors.columns if c != "details"]
    return errors.select(
        *data_cols,
        F.forall("details", lambda d: d["loc"] == "eventDate").alias(
            "detail_dates_only"
        ),
        F.explode("details").alias("_d"),
    ).select(
        *data_cols,
        F.col("_d.type").alias("detail_type"),
        F.col("_d.loc").alias("detail_loc"),
        F.col("_d.msg").alias("detail_msg"),
        "detail_dates_only",
    )


def regroup_error_details(exploded: DataFrame) -> DataFrame:
    """Inverse of :func:`explode_error_details` (cleaner.py:257-288):
    collect the detail rows back into a nested ``details`` array for the
    unprocessed-error JSON export."""
    data_cols = [
        c
        for c in exploded.columns
        if not c.startswith("detail_") and c not in ORDINAL_COLS
    ]
    return exploded.groupBy(*[F.col(c) for c in data_cols]).agg(
        F.collect_list(
            F.struct(
                F.col("detail_type").alias("type"),
                F.col("detail_loc").alias("loc"),
                F.col("detail_msg").alias("msg"),
            )
        ).alias("details")
    )


def process_error_data(exploded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P6/P7: second-chance repair of error rows (cleaner.py:290-321).

    split_dates over the raw eventDate; ``processed`` = every detail of
    the record is on eventDate and all six parts are nonzero. A record
    with any other failed field (an unparseable individualCount, a
    missing latitude) cannot be repaired by a date split and would fail
    the typed merge, so it stays unrepaired. Repaired rows drop the
    detail columns and full-row-dedup (U3); unrepaired rows are
    returned for the JSON export.
    """
    with_parts = with_date_parts(exploded, src="eventDate")
    processed_flag = F.col("detail_dates_only")
    for f in DATE_PARTS_FIELDS:
        processed_flag = processed_flag & (F.col(f) != 0)
    with_parts = with_parts.withColumn("processed", processed_flag)

    repaired = (
        with_parts.filter("processed")
        .drop("detail_type", "detail_loc", "detail_msg", "detail_dates_only", "processed")
        .dropDuplicates()
    )
    unrepaired = with_parts.filter(~F.col("processed")).drop("processed")
    return repaired, unrepaired


def merge_channels(valid: DataFrame, repaired: DataFrame) -> DataFrame:
    """U1: valid ++ repaired-errors with concat order preserved via an
    explicit channel rank (pandas concat order, cleaner.py:350-351)."""
    v = valid.withColumn("_channel", F.lit(0))
    r = repaired.withColumn("_channel", F.lit(1))
    return v.unionByName(r, allowMissingColumns=True)


def _merged_order():
    return [F.col("_channel"), *[F.col(c) for c in ORDINAL_COLS]]


def dedup_keep_first(df: DataFrame, keys=DEDUP_KEYS) -> DataFrame:
    """W2/U4: first-occurrence-wins dedup as an explicit window.

    Spark's bare ``dropDuplicates`` keeps an arbitrary row; parity with
    pandas ``keep='first'`` (cleaner.py:353-354) requires ordering by
    the ingest ordinal inside each key group. One shuffle on the dedup
    key; no global sort.
    """
    w = W.partitionBy(*[F.col(k) for k in keys]).orderBy(*_merged_order())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def fill_in(df: DataFrame, whale: str) -> DataFrame:
    """W1 + F7/F8 (cleaner.py:56-74): null occurrenceIDs become
    -1,-2,... in ``(_channel, _ingest_file, _ingest_pos)`` order; null
    vernacularName filled with the Title-Cased whale name.

    The negative surrogate sequence is order-dependent, but a global
    window would serialize the whole null subset onto one partition.
    Instead each ``(_channel, _ingest_file)`` slice is numbered by its
    own window, in parallel, and shifted by the null count of the slices
    before it: a cumulative sum over a per-slice count aggregate of at
    most 2 x files rows, broadcast back. Everything stays lazy, so the
    numbering runs inside the sinks' jobs.
    """
    whale_title = whale.replace("_", " ").title()
    slice_cols = ["_channel", "_ingest_file"]

    local = W.partitionBy(*slice_cols).orderBy("_ingest_pos")
    nulls = df.filter(F.col("occurrenceID").isNull()).withColumn(
        "_rn", F.row_number().over(local)
    )
    # a slice's null count is its last row number: grouping the numbered
    # rows by the window's own key reuses the window's shuffle
    offsets = (
        nulls.groupBy(*slice_cols)
        .agg(F.max("_rn").alias("_n"))
        .withColumn(
            "_off",
            F.sum("_n").over(
                W.orderBy(*slice_cols).rowsBetween(W.unboundedPreceding, -1)
            ),
        )
        .select(*slice_cols, F.coalesce("_off", F.lit(0)).alias("_off"))
    )
    keyed = (
        nulls.join(F.broadcast(offsets), slice_cols)
        .withColumn("occurrenceID", (-(F.col("_off") + F.col("_rn"))).cast("string"))
        .drop("_off", "_rn")
    )
    filled = df.filter(F.col("occurrenceID").isNotNull()).unionByName(keyed)
    return filled.withColumn(
        "vernacularName", F.coalesce(F.col("vernacularName"), F.lit(whale_title))
    )


def with_date_validity(df: DataFrame) -> DataFrame:
    """P4 applied to the merged frame (cleaner.py:352)."""
    return df.withColumn("date_is_valid", date_is_valid(F.col("eventDate")))


def get_start_and_end(
    df: DataFrame, startdate: str | None, enddate: str | None
) -> tuple[str, str]:
    """A2/P5 (cleaner.py:170-192): derive missing bounds from min/max of
    ISO-valid eventDates (string min/max == chronological on ISO)."""
    if startdate and enddate:
        return startdate, enddate
    bounds = (
        df.filter(F.col("date_is_valid"))
        .agg(F.min("eventDate").alias("mn"), F.max("eventDate").alias("mx"))
        .collect()[0]
    )
    return startdate or bounds["mn"], enddate or bounds["mx"]
