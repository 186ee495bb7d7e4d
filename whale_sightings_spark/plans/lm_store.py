"""Build-if-absent cache of the persisted n-gram LM store
(`operators/ngram_lm.py`), shared by the perplexity / LM query family
(queries_corpus, queries_classify)."""
from __future__ import annotations

from pyspark.sql import SparkSession

from whale_sightings_spark.operators import ngram_lm as LM
from whale_sightings_spark.plans.store_utils import artifact_dir
from whale_sightings_spark.schemas import load_table


def lm_artifact_dir(spark: SparkSession, sf_dir: str) -> str:
    """The n-gram LM store over ``sf_dir``'s documents; the build
    writes ``pairs`` last, so its ``_SUCCESS`` marks a finished
    build."""
    return artifact_dir(
        sf_dir,
        "documents.parquet",
        "ngramlm",
        LM.NGRAM_LM_FORMAT_VERSION,
        lambda d: LM.lm_artifact_paths(d)["pairs"],
        lambda staging: LM.build_lm_artifact(
            load_table(spark, sf_dir, "documents"), staging
        ),
    )
