"""Validation split (SURVEY.md §2.2 P1-P3, §1.3).

The reference validates row-by-row with Pydantic and routes failures to
a side error channel with per-field diagnostics (reference
``whalefinder/validate.py:163-190``). Here the same contract is a
column-predicate split: one ``details`` array column computed by native
expressions, classified together with the date repair into a
``_channel`` column that the valid, repaired and error outputs filter
on — so validation is a Catalyst-optimizable operator, scales with the
data, and never leaves the JVM.

Diagnostics mirror the trimmed Pydantic error dicts
``{type, loc, msg}`` (validate.py:180-183).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whale_sightings_spark.functions.dates import (
    date_parts_struct,
    is_bad_date_format,
    normalize_event_date,
    parse_event_date,
    staged_date_parts,
)
from whale_sightings_spark.schemas import DATE_PARTS_FIELDS

#: deterministic ingest-order columns stamped at source (SURVEY §7.3.1) —
#: every order-dependent operator downstream sorts on these, never on
#: physical row position.
ORDINAL_COLS = ("_ingest_file", "_ingest_pos")

#: ``_channel`` of a classified record (:func:`classify_occurrences`);
#: the merged frame's order puts valid rows before repaired ones, as the
#: reference's concat does (cleaner.py:350-351)
VALID, REPAIRED, UNREPAIRED = 0, 1, 2


def _detail(cond: Column, typ: str, loc: str, msg: str) -> Column:
    return F.when(
        cond,
        F.struct(
            F.lit(typ).alias("type"), F.lit(loc).alias("loc"), F.lit(msg).alias("msg")
        ),
    )


def occurrence_validation_details(parsed: Column) -> Column:
    """The ``details`` array: one {type, loc, msg} per failed field;
    ``parsed`` is :func:`parse_event_date` of eventDate.

    Field rules (reference validate.py:17-63):
    - eventDate required; 8 bad-format regexes reject; else must parse
    - decimalLatitude/'Longitude required, float-coercible
    - species required; speciesid required, int-coercible
    - individualCount optional but must be int-coercible when present
    """
    event = F.col("eventDate")
    checks = [
        _detail(event.isNull(), "missing", "eventDate", "Field required"),
        _detail(
            event.isNotNull() & is_bad_date_format(event),
            "value_error",
            "eventDate",
            "Value error, eventDate is a bad format.",
        ),
        _detail(
            event.isNotNull() & ~is_bad_date_format(event) & parsed.isNull(),
            "value_error",
            "eventDate",
            "Value error, eventDate could not be parsed.",
        ),
        _detail(
            F.col("decimalLatitude").isNull(), "missing", "decimalLatitude", "Field required"
        ),
        _detail(
            F.col("decimalLatitude").isNotNull()
            & F.col("decimalLatitude").try_cast("double").isNull(),
            "float_parsing",
            "decimalLatitude",
            "Input should be a valid number, unable to parse string as a number",
        ),
        _detail(
            F.col("decimalLongitude").isNull(), "missing", "decimalLongitude", "Field required"
        ),
        _detail(
            F.col("decimalLongitude").isNotNull()
            & F.col("decimalLongitude").try_cast("double").isNull(),
            "float_parsing",
            "decimalLongitude",
            "Input should be a valid number, unable to parse string as a number",
        ),
        _detail(F.col("species").isNull(), "missing", "species", "Field required"),
        _detail(F.col("speciesid").isNull(), "missing", "speciesid", "Field required"),
        _detail(
            F.col("speciesid").isNotNull() & F.col("speciesid").try_cast("int").isNull(),
            "int_parsing",
            "speciesid",
            "Input should be a valid integer, unable to parse string as an integer",
        ),
        _detail(
            F.col("individualCount").isNotNull()
            & F.col("individualCount").try_cast("int").isNull(),
            "int_parsing",
            "individualCount",
            "Input should be a valid integer, unable to parse string as an integer",
        ),
    ]
    return F.array_compact(F.array(*checks))


def classify_occurrences(df: DataFrame) -> DataFrame:
    """Validation (P1-P3) and the second-chance date repair (P6/P7,
    cleaner.py:290-321) as one record-level pass over the raw rows.

    Adds ``_parsed`` (eventDate parsed once), the ``details`` array, the
    six date parts and ``_channel``:

    - ``VALID``: no details; the parts come from the parsed date.
    - ``REPAIRED``: every detail is on eventDate (such a record has
      exactly one) and the split_dates cascade gives six nonzero parts.
      A record with any other failed field cannot be repaired by a date
      split.
    - ``UNREPAIRED``: every other record, bound for the error export.

    The cascade's result is used only for error rows.
    """
    flagged = df.withColumn("_parsed", parse_event_date(F.col("eventDate")))
    flagged = flagged.withColumn("details", occurrence_validation_details(F.col("_parsed")))
    staged, cascade = staged_date_parts(flagged, "eventDate")
    staged = staged.withColumn("__split", cascade)
    valid = F.size("details") == 0
    d = F.col("_parsed")
    day = (F.year(d), F.month(d), F.dayofmonth(d))
    dates_only = F.forall("details", lambda x: x["loc"] == "eventDate")
    # the split is read through one lambda binding: a test naming its six
    # fields, pushed down with a channel filter, inlines six cascades
    nonzero = F.exists(
        F.array("__split"),
        lambda p: functools.reduce(operator.and_, [p[f] != 0 for f in DATE_PARTS_FIELDS]),
    )
    staged = staged.withColumns({
        "__parts": F.when(valid, date_parts_struct(*day, *day)).otherwise(F.col("__split")),
        "_channel": F.when(valid, VALID)
        .when(dates_only & nonzero, REPAIRED)
        .otherwise(UNREPAIRED),
    })
    return staged.select(
        *df.columns,
        "_parsed",
        "details",
        *[F.col(f"__parts.{f}").alias(f) for f in DATE_PARTS_FIELDS],
        "_channel",
    )


def typed_occurrences(classified: DataFrame) -> DataFrame:
    """The typed columns of a :func:`classify_occurrences` frame, for
    its ``VALID`` and ``REPAIRED`` rows (an ``UNREPAIRED`` row gets null
    where a field fails its cast).

    A valid row's eventDate is ISO-normalized back to a *string* (the
    §1.4 parity trap — validate.py:178 serializes the parsed date with
    model_dump(mode='json')) and a missing individualCount counts 1; a
    repaired row keeps its raw eventDate and a null count. Integer
    columns are bigint, the type the reference's concat of the two
    channels gives them.
    """
    valid = F.col("_channel") == VALID
    count = F.col("individualCount").try_cast("int")
    return classified.select(
        F.col("occurrenceID"),
        F.when(valid, normalize_event_date(F.col("_parsed")))
        .otherwise(F.col("eventDate"))
        .alias("eventDate"),
        F.col("verbatimEventDate"),
        F.col("decimalLatitude").try_cast("double").alias("decimalLatitude"),
        F.col("decimalLongitude").try_cast("double").alias("decimalLongitude"),
        F.col("waterBody"),
        F.col("species"),
        F.col("speciesid").try_cast("int").cast("long").alias("speciesid"),
        F.col("vernacularName"),
        F.when(valid, F.coalesce(count, F.lit(1)))
        .otherwise(count)
        .cast("long")
        .alias("individualCount"),
        F.col("basisOfRecord"),
        F.col("bibliographicCitation"),
        *ORDINAL_COLS,
        *DATE_PARTS_FIELDS,
        "_channel",
    )


def validate_occurrences(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split raw occurrences into (valid, errors) by
    :func:`classify_occurrences`.

    Valid channel: the :func:`typed_occurrences` columns.
    Error channel: original raw values + the ``details`` array.
    """
    classified = classify_occurrences(df)
    valid = typed_occurrences(classified.filter(F.col("_channel") == VALID))
    errors = classified.filter(F.col("_channel") != VALID).select(*df.columns, "details")
    return valid.drop(*DATE_PARTS_FIELDS, "_channel"), errors


def validation_counts(valid: DataFrame, errors: DataFrame) -> tuple[int, int]:
    """The reference's accounting invariant (validate.py:189):
    'Validated: N, Errors: M' where M counts per-field details."""
    n_valid = valid.count()
    n_details = errors.select(F.sum(F.size("details")).alias("n")).collect()[0]["n"] or 0
    return n_valid, int(n_details)
