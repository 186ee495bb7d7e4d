"""Fixed StructType schemas (SURVEY.md §1.2) + testdata loaders.

The canonical occurrence schema mirrors the reference's declared
Pydantic model (reference ``whalefinder/validate.py:17-34``): declared
+ coercive, unknown fields dropped. In Spark the declared schema is
applied at read time — no inference in the pipeline path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from whale_sightings_spark.plans.store_utils import stat_sig

# ---------------------------------------------------------------------------
# Occurrence pipeline schemas
# ---------------------------------------------------------------------------

#: Raw OBIS-shaped occurrence record as read from the raw zone. Everything
#: arrives as strings/doubles and is validated by operators.validate
#: (reference validate.py:17-34; numeric fields read permissively as
#: strings so uncastable values route to the error channel, not a crash).
OCCURRENCE_RAW_SCHEMA = T.StructType(
    [
        T.StructField("occurrenceID", T.StringType(), True),
        T.StructField("eventDate", T.StringType(), True),
        T.StructField("verbatimEventDate", T.StringType(), True),
        T.StructField("decimalLatitude", T.StringType(), True),
        T.StructField("decimalLongitude", T.StringType(), True),
        T.StructField("waterBody", T.StringType(), True),
        T.StructField("species", T.StringType(), True),
        T.StructField("speciesid", T.StringType(), True),
        T.StructField("vernacularName", T.StringType(), True),
        T.StructField("individualCount", T.StringType(), True),
        T.StructField("basisOfRecord", T.StringType(), True),
        T.StructField("bibliographicCitation", T.StringType(), True),
    ]
)

#: One validation diagnostic: mirrors the reference's trimmed error
#: detail dicts ``{type, loc, msg}`` (reference validate.py:180-183).
ERROR_DETAIL_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("loc", T.StringType(), False),
        T.StructField("msg", T.StringType(), False),
    ]
)

#: Typed occurrence row after validation (valid channel).
OCCURRENCE_SCHEMA = T.StructType(
    [
        T.StructField("occurrenceID", T.StringType(), True),
        T.StructField("eventDate", T.StringType(), True),  # ISO-normalized string, §1.4
        T.StructField("verbatimEventDate", T.StringType(), True),
        T.StructField("decimalLatitude", T.DoubleType(), True),
        T.StructField("decimalLongitude", T.DoubleType(), True),
        T.StructField("waterBody", T.StringType(), True),
        T.StructField("species", T.StringType(), True),
        T.StructField("speciesid", T.IntegerType(), True),
        T.StructField("vernacularName", T.StringType(), True),
        T.StructField("individualCount", T.IntegerType(), True),
        T.StructField("basisOfRecord", T.StringType(), True),
        T.StructField("bibliographicCitation", T.StringType(), True),
    ]
)

#: Six derived date-part columns added by the date normalizer
#: (reference cleaner.py:302,333).
DATE_PARTS_FIELDS = [
    "start_year",
    "start_month",
    "start_day",
    "end_year",
    "end_month",
    "end_day",
]

DATE_PARTS_SCHEMA = T.StructType(
    [T.StructField(f, T.IntegerType(), False) for f in DATE_PARTS_FIELDS]
)

#: Ocean polygon dimension (spatial join right side): named polygon rings
#: as arrays of (lon, lat) vertices — the engine-native form of the
#: reference's GOaS shapefile load (reference cleaner.py:18-27).
OCEAN_POLYGON_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField(
            "ring",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("lon", T.DoubleType(), False),
                        T.StructField("lat", T.DoubleType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)

# ---------------------------------------------------------------------------
# Serving star schema (reference db/scripts/db.sql:5-44)
# ---------------------------------------------------------------------------

LOCATIONS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("waterBody", T.StringType(), True),
    ]
)

SPECIES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("speciesName", T.StringType(), True),
        T.StructField("vernacularName", T.StringType(), True),
    ]
)

OCCURRENCES_FACT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("eventDate", T.StringType(), True),
        T.StructField("waterBodyId", T.IntegerType(), True),
        T.StructField("latitude", T.DecimalType(9, 7), True),
        T.StructField("longitude", T.DecimalType(10, 7), True),
        T.StructField("speciesId", T.IntegerType(), True),
        T.StructField("individualCount", T.IntegerType(), True),
        T.StructField("start_year", T.IntegerType(), True),
        T.StructField("start_month", T.IntegerType(), True),
        T.StructField("start_day", T.IntegerType(), True),
        T.StructField("end_year", T.IntegerType(), True),
        T.StructField("end_month", T.IntegerType(), True),
        T.StructField("end_day", T.IntegerType(), True),
        T.StructField("date_is_valid", T.BooleanType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: DataFrame memo for the driver testdata tables (round 12, guide §1.2
#: "per-task work"): every one of the ~265 queries re-built its base
#: DataFrames from scratch — parquet footer read + schema inference +
#: the `_fan_out` directory walk are all driver-side fixed overhead
#: (~40-90 ms per load_table call) repeated per query. The memo is
#: PLAN-level only — the returned DataFrame is lazy and recomputes from
#: the parquet input on every action — and is keyed on the file's
#: `stat_sig` plus the owning session, exactly like
#: `store_utils.read_artifact_table`, so a rewritten table or a new
#: session misses.
_TABLE_MEMO: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects; read it as long (legacy conf, runtime-settable) and
    truncate to microsecond TIMESTAMP_NTZ — the same truncation DuckDB
    applies, so oracle comparisons agree.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = stat_sig(path)
    key = os.path.abspath(path)
    if sig is not None:
        hit = _TABLE_MEMO.get(key)
        if hit is not None and hit[0] == sig and hit[2] is spark:
            return hit[1]
    df = _load_table_uncached(spark, path, name)
    if sig is not None:
        _TABLE_MEMO[key] = (sig, df, spark)
    return df


def _load_table_uncached(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name != "events":
        return _fan_out(spark, spark.read.parquet(path), path)
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return _fan_out(spark, df, path)


#: tables whose query surface runs expensive per-row work straight off
#: the scan — interpreted higher-order lambdas over embedding arrays,
#: tokenizer/regex cascades over document text, date-repair regexes
#: over event strings. Only these repay a fan-out exchange on an
#: unsplittable single-row-group scan; the relational tables' map-side
#: work is all codegen'd scalar projection (cheap on one core) and
#: their parallelism comes from the first shuffle, so fanning them out
#: costs a sort + exchange (~0.4-0.6 s on lineitem locally, guide §2.4
#: "check explain() for Exchange nodes you did not expect") with no
#: downstream speedup (round 12 measurement: lineitem noop 0.22 s raw
#: vs 0.86 s fanned; groupBy-agg 0.15 s raw vs 0.52 s fanned).
_FAN_OUT_TABLES = frozenset({"documents", "embeddings", "events"})


def _fan_out(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Repartition unsplittable scans up to the cluster's parallelism.

    The driver's testdata files are single-row-group parquet, which
    Spark cannot split below one task — every downstream per-row
    expression would run on one core. When the file layout yields far
    fewer scan splits than cores, fan out with a round-robin exchange
    (a few MB locally). On a real multi-file / multi-row-group layout
    (the 100 TB case) the scan parallelizes naturally and this is a
    no-op, so no production plan pays the extra shuffle. Round 12:
    applied only to the ``_FAN_OUT_TABLES`` whose per-row work is
    interpreted (see above) — everything else keeps its natural scan.
    """
    name = os.path.basename(path).rsplit(".", 1)[0]
    if name not in _FAN_OUT_TABLES:
        return df
    parallelism = spark.sparkContext.defaultParallelism
    try:
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
        ) if os.path.isdir(path) else os.path.getsize(path)
    except OSError:
        return df
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").rstrip("b"))
    approx_splits = max(1, size // max_split)
    if approx_splits < parallelism // 2:
        return df.repartition(parallelism)
    return df

