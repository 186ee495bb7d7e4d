"""Serving-layer dim/fact derivation (SURVEY.md §2.1 S12-S14, §2.3
J4/J5, §2.4 A6/A7).

Replaces the reference's per-row stored-procedure dim encoding
(``db/scripts/procedures.sql:4-28``) with set-based operators:
anti-join the incoming names against the existing dim, assign
``max(id) + row_number`` surrogates in first-encounter order, resolve
FKs with a null-safe broadcast equi-join (MySQL UNIQUE ignores NULLs,
so exactly one NULL-name row exists — ``eqNullSafe`` preserves that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.operators.clean import _merged_order
from whale_sightings_spark.whales import SCIENTIFIC_TO_VERNACULAR


def derive_species_dim(df: DataFrame) -> DataFrame:
    """S13/A7/J6: distinct species rows for the ``species`` dim.

    vernacularName falls back to the seed map (storage.py:92-93); the
    per-key upsert keeps one row per speciesid.
    """
    pairs = []
    for sci, vern in SCIENTIFIC_TO_VERNACULAR.items():
        pairs.extend([F.lit(sci), F.lit(vern)])
    seed = F.create_map(*pairs)
    return (
        df.select(
            F.col("speciesid").alias("id"),
            F.col("species").alias("speciesName"),
            F.coalesce(seed[F.col("species")], F.col("vernacularName")).alias(
                "vernacularName"
            ),
        )
        .dropDuplicates(["id"])
    )


def encode_locations_dim(
    cleaned: DataFrame, existing_dim: DataFrame | None = None
) -> DataFrame:
    """S14/J5/A6: surrogate-key encoding of waterBody names.

    New names (null-safe anti-join vs the existing dim) get ids
    ``max(id) + row_number`` ordered by first-encounter order — the
    set-based equivalent of the stored procedure called per row in
    ingest order (procedures.sql:4-28, storage.py:140-143).
    """
    spark = cleaned.sparkSession
    if existing_dim is None:
        existing_dim = spark.createDataFrame([], "id int, waterBody string")

    first_seen = cleaned.groupBy("waterBody").agg(
        F.min(F.struct(*_merged_order())).alias("_first")
    )
    new_names = first_seen.join(
        existing_dim,
        first_seen["waterBody"].eqNullSafe(existing_dim["waterBody"]),
        "left_anti",
    )
    mx = existing_dim.agg(F.coalesce(F.max("id"), F.lit(-1)).alias("_mx"))
    # global window is intentional here: input is post-groupBy DISTINCT
    # dim names (bounded dictionary cardinality, not fact-table rows),
    # so the single-partition stage holds at any fact scale
    assigned = (
        new_names.crossJoin(F.broadcast(mx))
        .select(
            (F.col("_mx") + F.row_number().over(W.orderBy("_first")))
            .cast("int")
            .alias("id"),
            "waterBody",
        )
    )
    return existing_dim.unionByName(assigned)


def resolve_water_body_fk(cleaned: DataFrame, locations: DataFrame) -> DataFrame:
    """J4: null-safe broadcast lookup waterBody -> waterBodyId
    (procedures.sql:12-17's NULL-aware match; storage.py:105-112)."""
    loc = F.broadcast(
        locations.select(
            F.col("id").alias("waterBodyId"), F.col("waterBody").alias("_wb")
        )
    )
    joined = cleaned.join(loc, cleaned["waterBody"].eqNullSafe(loc["_wb"]), "left")
    return joined.drop("_wb")


def build_occurrences_fact(cleaned_with_fk: DataFrame) -> DataFrame:
    """S12: project the cleaned frame to the ``occurrences`` fact shape
    (db.sql:19-34): decimal lat/lon, string eventDate (invalid originals
    preserved verbatim — db.sql:22)."""
    return cleaned_with_fk.select(
        F.col("occurrenceID").alias("id"),
        F.col("eventDate"),
        F.col("waterBodyId").cast("int"),
        F.col("decimalLatitude").cast("decimal(9,7)").alias("latitude"),
        F.col("decimalLongitude").cast("decimal(10,7)").alias("longitude"),
        F.col("speciesid").cast("int").alias("speciesId"),
        # validate.py:32 default=1 — repaired error rows re-enter the
        # pipeline without passing the valid-channel coalesce, but the
        # serving table declares individualCount NOT NULL
        F.coalesce(F.col("individualCount").cast("int"), F.lit(1)).alias(
            "individualCount"
        ),
        *[F.col(c).cast("int") for c in (
            "start_year", "start_month", "start_day",
            "end_year", "end_month", "end_day",
        )],
        F.col("date_is_valid").cast("boolean"),
    )
