"""Build-if-absent cache of the persisted shingle inverted index
(`operators/shingles.py`), shared by the three plan modules that serve
from it (queries_curation, queries_textops, queries_llm)."""
from __future__ import annotations

from pyspark.sql import SparkSession

from whale_sightings_spark.operators import shingles as SH
from whale_sightings_spark.plans.store_utils import artifact_dir
from whale_sightings_spark.schemas import load_table


def shingle_artifact_dir(spark: SparkSession, sf_dir: str) -> str:
    """The shingle store over ``sf_dir``'s documents; the build writes
    ``src5`` last, so its ``_SUCCESS`` marks a finished build."""
    return artifact_dir(
        sf_dir,
        "documents.parquet",
        "shingle",
        SH.SHINGLE_FORMAT_VERSION,
        lambda d: SH.shingle_artifact_paths(d)[3],
        lambda staging: SH.build_shingle_artifact(
            load_table(spark, sf_dir, "documents"), staging
        ),
    )
