"""Cleaning operators (SURVEY.md §2: F12/F15 error export, W2 keep-first
dedup, W1 surrogate keys, F7/F8 fills) over the channels that
``operators.validate.classify_occurrences`` assigns.

Reference: ``whalefinder/cleaner.py`` — reimplemented as lazy DataFrame
lineage with explicit windows over the deterministic ingest ordinal
(SURVEY §7.3.1) wherever pandas relied on global row order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.functions.dates import date_is_valid
from whale_sightings_spark.operators.validate import ORDINAL_COLS, UNREPAIRED

#: the keep-first dedup key (reference cleaner.py:353-354)
DEDUP_KEYS = ("eventDate", "decimalLatitude", "decimalLongitude")


def unrepaired_export(classified: DataFrame) -> DataFrame:
    """The unprocessed-error export (cleaner.py:257-288): the
    ``UNREPAIRED`` records of a classified frame, grouped by their data
    columns, so records with identical data at different file positions
    export as one object holding all their details."""
    data_cols = [
        c
        for c in classified.columns
        if c not in (*ORDINAL_COLS, "_parsed", "details", "_channel")
    ]
    return (
        classified.filter(F.col("_channel") == UNREPAIRED)
        .groupBy(*data_cols)
        .agg(F.flatten(F.collect_list("details")).alias("details"))
    )


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
