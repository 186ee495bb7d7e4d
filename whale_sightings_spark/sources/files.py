"""Raw/curated-zone file sources & sinks (SURVEY.md §2.1 S5-S9).

The reference stages API JSON at ``data/{whale}/{start}--{end}.json``
and prunes files by parsing year ranges out of filenames
(``whalefinder/validate.py:85-143``). Spark-first replacement: read the
same layout with a declared schema + ``pathGlobFilter``, pruning
file paths *before* the scan — the same I/O win, no custom code path,
and at cluster scale the raw zone graduates to a
``whale=<w>/year=<y>`` partition layout where Catalyst partition
pruning does it for free.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whale_sightings_spark.schemas import OCCURRENCE_RAW_SCHEMA

FILE_RANGE_RE = re.compile(r"(\d{4})-\d{2}-\d{2}--(\d{4})-\d{2}-\d{2}")


def match_raw_files(
    data_dir: str, whale: str, startdate: str | None, enddate: str | None
) -> list[str]:
    """S6 (validate.py:85-143): glob ``*.json`` and prune by comparing
    filename year ranges against the requested bounds (4 cases: both /
    start-only / end-only / all)."""
    whale_dir = Path(data_dir) / whale
    files = [f for f in sorted(whale_dir.glob("*.json")) if FILE_RANGE_RE.search(f.name)]
    start_year = int(startdate[:4]) if startdate else None
    end_year = int(enddate[:4]) if enddate else None

    out: list[str] = []
    for f in files:
        m = FILE_RANGE_RE.search(f.name)
        fs, fe = int(m.group(1)), int(m.group(2))
        if start_year is not None and end_year is not None:
            if start_year <= fs <= end_year and start_year <= fe <= end_year:
                out.append(str(f))
        elif start_year is not None:
            if start_year <= fs:
                out.append(str(f))
        elif end_year is not None:
            if fe <= end_year:
                out.append(str(f))
        else:
            out.append(str(f))
    return out


def read_raw_occurrences(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S7: multi-file JSON union with the declared schema — each file is
    ``{"results": [...]}`` (obis.py:149-164); unknown keys are dropped
    by schema projection (P1, validate.py:21).

    ``multiLine=True`` because the reference writes indented JSON
    documents, not JSONL. The ``results`` array is exploded in file
    order and stamped with the deterministic ingest ordinal; no paths
    give the same columns with no rows.
    """
    import pyspark.sql.types as T

    doc_schema = T.StructType(
        [T.StructField("results", T.ArrayType(OCCURRENCE_RAW_SCHEMA), True)]
    )
    if not paths:
        ordinal = [
            T.StructField("_ingest_file", T.StringType()),
            T.StructField("_ingest_pos", T.LongType()),
        ]
        return spark.createDataFrame(
            [], T.StructType(OCCURRENCE_RAW_SCHEMA.fields + ordinal)
        )
    docs = spark.read.schema(doc_schema).option("multiLine", "true").json(paths)
    rows = (
        docs.withColumn("_ingest_file", F.input_file_name())
        .select(
            "_ingest_file",
            F.posexplode_outer("results").alias("_ingest_pos", "_row"),
        )
        .filter(F.col("_row").isNotNull())
        .select("_row.*", "_ingest_file", F.col("_ingest_pos").cast("long"))
    )
    return rows


def audit_raw_zone(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Raw-zone parse audit: files whose JSON failed to parse or that
    parse but carry no ``results`` array. ``read_raw_occurrences``
    reads PERMISSIVE (a malformed file must never kill a 100 TB
    ingestion run), which means bad files silently contribute zero
    rows — this companion surfaces them so the ingest job can alert
    and retry instead of under-counting quietly. Returns
    (file, reason, sample) — one row per bad file, row-local work
    only."""
    import pyspark.sql.types as T

    if not paths:
        return spark.createDataFrame(
            [], "file string, reason string, sample string"
        )
    audit_schema = T.StructType(
        [
            T.StructField("results", T.ArrayType(OCCURRENCE_RAW_SCHEMA), True),
            T.StructField("_corrupt_record", T.StringType(), True),
        ]
    )
    docs = (
        spark.read.schema(audit_schema)
        .option("multiLine", "true")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(paths)
    )
    return (
        docs.withColumn("file", F.input_file_name())
        .filter(F.col("_corrupt_record").isNotNull() | F.col("results").isNull())
        .select(
            "file",
            F.when(F.col("_corrupt_record").isNotNull(), "malformed_json")
            .otherwise("missing_results")
            .alias("reason"),
            F.substring(F.coalesce("_corrupt_record", F.lit("")), 1, 80).alias(
                "sample"
            ),
        )
    )


def write_curated_csv(df: DataFrame, out_dir: str) -> None:
    """S8 (cleaner.py:382-398): curated CSV checkpoint. Parquet is the
    real curated format at scale; CSV kept for reference parity."""
    df.write.mode("overwrite").option("header", True).csv(out_dir)


def write_curated_parquet(
    df: DataFrame, out_dir: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Curated parquet zone. With ``partition_by`` (e.g.
    ``("start_year",)``) the layout becomes ``start_year=<y>/...`` and
    year predicates become Catalyst partition pruning — the at-scale
    replacement for the reference's filename-range pruning (R1,
    validate.py:85-143)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_dir)


def read_curated_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """S9 (storage.py:126-131): curated CSV re-entry point."""
    return spark.read.option("header", True).schema(schema).csv(path)


def read_curated_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Curated parquet re-entry with SCHEMA EVOLUTION: a rolling 100 TB
    zone is re-ingested incrementally, so files written before a column
    was added coexist with files written after.

    - ``schema=None``: ``mergeSchema=true`` unions the column sets of
      all footer schemas; rows from older files null-fill columns they
      predate (additive evolution — the only kind the zone contract
      allows; renames/retypes are a rewrite, not an evolution).
    - declared ``schema``: project to the stated contract regardless of
      what newer files carry — readers pinned to a schema version keep
      working as the zone evolves ahead of them (per-file pruning of
      unrequested columns still happens in the parquet reader).
    """
    reader = spark.read.option("mergeSchema", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def write_error_json(unrepaired: DataFrame, out_dir: str) -> None:
    """Unrepaired-error JSON export (cleaner.py:248-288): every error
    row that survived neither validation nor the second-chance repair is
    saved as ``{"data": {...original fields...}, "details": [{type,
    loc, msg}, ...]}`` — the reference's per-error object shape.

    The reference assembles one indented ``error_data.json`` on the
    driver; here the export is a distributed JSONL write (one object
    per line, part files under ``out_dir``) so an error-heavy 100 TB
    ingest can't OOM the driver. Readers get the same objects either
    way."""
    data_cols = [c for c in unrepaired.columns if c != "details"]
    doc = unrepaired.select(
        F.struct(*[F.col(c) for c in data_cols]).alias("data"),
        F.col("details"),
    )
    doc.write.mode("overwrite").json(out_dir)


def read_error_json(spark: SparkSession, path: str) -> DataFrame:
    """Re-entry point for the error export — schema inferred from the
    nested data/details objects."""
    return spark.read.json(path)


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    cluster_by: Sequence[str],
    target_file_mb: int = 128,
    n_files: int | None = None,
) -> int:
    """Small-file compaction with range clustering — the maintenance
    pass a curated zone needs after many incremental writes.

    Rewrites ``in_path`` as ``ceil(input_bytes / target_file_mb)``
    parquet files, range-partitioned AND sorted within partitions on
    ``cluster_by``. The sort gives every output file a tight, nearly
    disjoint min/max envelope on the cluster keys, so parquet
    footer stats let later scans skip whole files/row groups for
    selective predicates on those keys (the poor man's Z-order; for a
    single clustering dimension it IS optimal clustering). Returns the
    output file count.

    Scale shape: one range shuffle (sampled boundaries, so skew in the
    cluster key spreads evenly); no driver-side data movement. At
    100 TB run it per partition-directory (e.g. per day), not globally.
    """
    df = spark.read.parquet(in_path)
    if n_files is None:
        input_bytes = sum(
            f.stat().st_size
            for f in Path(in_path).rglob("*.parquet")
            if f.is_file()
        ) or 1
        n_files = max(1, -(-input_bytes // (target_file_mb * 1024 * 1024)))
    cols = [F.col(c) for c in cluster_by]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return len([f for f in Path(out_dir).rglob("*.parquet") if f.is_file()])
