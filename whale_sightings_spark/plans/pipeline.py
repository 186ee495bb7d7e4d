"""End-to-end whale pipeline (SURVEY.md §3.1): one lazy DataFrame
lineage from raw-zone JSON to the curated frame, and the star schema
built from a curated frame.

Reference lifecycle (``main.py:33-50``): fetch -> validate -> clean ->
load, eager and single-threaded with file checkpoints between stages.
Here stages 2-3 are one Catalyst plan and building it runs no Spark
job: actions happen only at the sinks. Stage 4 starts from the curated
parquet those sinks wrote (the reference's file checkpoint), so the
star load never re-runs the cleaning lineage. The only wide operators
are the dedup window, the per-file null-ID numbering window and the
dim aggregations — every dim join broadcasts (SURVEY §7.0).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whale_sightings_spark.operators.clean import (
    dedup_keep_first,
    fill_in,
    unrepaired_export,
    with_date_validity,
)
from whale_sightings_spark.operators.dims import (
    build_occurrences_fact,
    derive_species_dim,
    encode_locations_dim,
    resolve_water_body_fk,
)
from whale_sightings_spark.operators.spatial import spatial_join_water_body
from whale_sightings_spark.operators.validate import (
    UNREPAIRED,
    classify_occurrences,
    typed_occurrences,
)
from whale_sightings_spark.sources.files import match_raw_files, read_raw_occurrences
from whale_sightings_spark.whales import WHALE_NAMES


@dataclass
class PipelineContext:
    """Mirror of the reference's PipelineContext (main.py:12-30)."""

    whale: str
    startdate: str | None = None
    enddate: str | None = None
    data_dir: str = "data"
    scientificname: str = field(init=False)

    def __post_init__(self) -> None:
        if self.whale not in WHALE_NAMES:
            raise ValueError(
                f"{self.whale!r} is not a known whale; expected one of {sorted(WHALE_NAMES)}"
            )
        self.scientificname = WHALE_NAMES[self.whale]["scientificname"]


@dataclass
class PipelineResult:
    cleaned: DataFrame
    unrepaired_errors: DataFrame


def clean_occurrences(
    raw: DataFrame,
    ctx: PipelineContext,
    oceans: DataFrame | None = None,
) -> PipelineResult:
    """Stages 2-3 (validate + clean) as one lineage.

    raw -> one record-level classification: validation (P1-P3) and date
    repair (F12/P6) into valid / repaired / unrepaired channels ->
    typed rows (U1) -> date validity (P4) -> keep-first dedup (W2) ->
    unrepaired rows dropped -> fills (W1/F7/F8) -> spatial join (J1);
    the unrepaired channel goes to the error export.
    """
    classified = classify_occurrences(raw)
    merged = with_date_validity(typed_occurrences(classified))
    # unrepaired rows sort last in their key group, so dropping them after
    # the dedup keeps its survivors; above the window the filter is not
    # pushed down to the scan with a second copy of the classification
    merged = dedup_keep_first(merged).filter(F.col("_channel") < UNREPAIRED)
    merged = fill_in(merged, ctx.whale)
    if oceans is not None:
        merged = spatial_join_water_body(merged, oceans)

    return PipelineResult(
        cleaned=merged,
        unrepaired_errors=unrepaired_export(classified),
    )


def run_pipeline(
    spark: SparkSession,
    ctx: PipelineContext,
    oceans: DataFrame | None = None,
) -> PipelineResult:
    """Raw zone -> cleaned frame, with the reference's filename-range
    pruning at the file listing (S6)."""
    paths = match_raw_files(ctx.data_dir, ctx.whale, ctx.startdate, ctx.enddate)
    raw = read_raw_occurrences(spark, paths)
    return clean_occurrences(raw, ctx, oceans)


def build_star_schema(
    cleaned: DataFrame, existing_locations: DataFrame | None = None
) -> dict[str, DataFrame]:
    """Stage 4 dims + fact (S12-S14) from a curated frame: locations
    surrogate encoding against ``existing_locations``, species dim,
    FK-resolved fact."""
    locations = encode_locations_dim(cleaned, existing_locations)
    species = derive_species_dim(cleaned)
    fact = build_occurrences_fact(resolve_water_body_fk(cleaned, locations))
    return {"locations": locations, "species": species, "occurrences": fact}
