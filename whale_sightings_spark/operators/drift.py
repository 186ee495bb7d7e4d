"""Drift operators shared across the query surface:

- ``ks_report`` — distribution drift (q205 / streaming_ks_ingest).
- ``rebuild_drift`` — the shared artifact rebuild-drift core (round
  11): every persisted artifact family carries a maintenance audit of
  the same shape (q243 labels, q251 pairs, q258 pagerank, q259 LM
  counts) — recompute the artifact's content from first principles
  over a HISTORY slice, restrict the STORED full-corpus table to the
  same slice, and price the drift. Hot-bucket caps, banding
  interactions, and append-only streaming ingest all make the stored
  table diverge from a fresh rebuild, and a maintenance job reads
  these counts to decide when a rebuild is due. Scale shape: ONE
  full-outer equi-join on the audit key + ONE aggregation, both sides
  artifact-scale (never corpus-scale); all outputs integer, so no
  float boundary ever enters the oracle hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.session import barrier


def ks_report(d: DataFrame) -> DataFrame:
    """Per-source two-sample Kolmogorov-Smirnov report over a
    (source, n_chars) frame: each source's length distribution vs the
    rest of the corpus. Integer arithmetic until the single final
    division — the KS numerator |cum_c*(N-ns) - (cum_g-cum_c)*ns| and
    its argmax are exact, so the ks_at_len tie-break (min length at
    the sup) is engine-deterministic. Shape: per-(source,len) counts,
    a sources x distinct-lengths grid (bounded), one cumulative window
    per source over the aggregated grid; output |sources| rows. At
    N ~ 1e9+ docs the BIGINT products need DECIMAL(38). Columns:
    (source, n_source, ks_stat, ks_at_len) — the q205 contract."""
    # ONE corpus pass: the (source, n_chars) count grid; the source
    # totals, the global length histogram and the grand total are its
    # exact integer roll-ups (groupBy keeps NULL groups, so the sums
    # partition count(*) exactly). The barrier stops the three roll-ups
    # replaying the corpus agg. Was four corpus scans (r13).
    cnt = (
        d.groupBy("source", "n_chars")
        .agg(F.count("*").alias("c"))
        .transform(barrier)
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("ns"))
    grand = cnt.agg(F.sum("c").alias("n"))
    gc = cnt.groupBy("n_chars").agg(F.sum("c").alias("gc"))
    grid = (
        tot.crossJoin(F.broadcast(gc))
        .join(cnt, ["source", "n_chars"], "left")
        .select(
            "source",
            "ns",
            "n_chars",
            "gc",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    w = W.partitionBy("source").orderBy("n_chars")
    cum = grid.select(
        "source",
        "ns",
        "n_chars",
        F.sum("c").over(w).alias("cum_c"),
        F.sum("gc").over(w).alias("cum_g"),
    )
    j = cum.crossJoin(F.broadcast(grand)).select(
        "source",
        "ns",
        "n_chars",
        F.abs(
            F.col("cum_c") * (F.col("n") - F.col("ns"))
            - (F.col("cum_g") - F.col("cum_c")) * F.col("ns")
        ).alias("num"),
        (F.col("ns") * (F.col("n") - F.col("ns"))).alias("den"),
    )
    k = j.withColumn("mx", F.max("num").over(W.partitionBy("source")))
    return k.groupBy("source").agg(
        F.first("ns").cast("bigint").alias("n_source"),
        F.round(
            F.first("mx").cast("double") / F.first("den").cast("double"), 6
        ).alias("ks_stat"),
        F.min(F.when(F.col("num") == F.col("mx"), F.col("n_chars")))
        .cast("bigint")
        .alias("ks_at_len"),
    )


def key_coverage(
    expected: DataFrame,
    stored: DataFrame,
    key_cols: list[str] | tuple[str, ...],
) -> DataFrame:
    """One-row completeness profile of a stored artifact's KEY SET vs
    the key set it is contractually required to cover (round 12,
    ADVICE r11): the drift audits that start their history recompute
    from a stored per-row table (q243/q251/q258 from the signature
    table) inherit that table's damage on BOTH sides of the drift
    join — a torn or replayed append that drops, duplicates, or
    orphans per-doc rows reads as zero drift there. This audit prices
    exactly that damage, ids only: no tokenize pass, one distinct on
    the expected side, one key-grouped count on the stored side, one
    full-outer equi-join.

    Returns (n_expected, n_stored_keys, n_covered, n_missing,
    n_orphan, n_dup_keys, n_stored_rows): missing = expected keys the
    store lost (dropped append), orphan = stored keys with no expected
    row (ghost of deleted data), dup_keys = keys stored more than once
    (append replay), stored_rows = total physical rows (dup mass). All
    integers — no float boundary in the hash gate."""
    keys = list(key_cols)
    e = (
        expected.select(*keys)
        .distinct()
        .select(*keys, F.lit(1).alias("__e"))
    )
    s = stored.groupBy(*keys).agg(F.count("*").alias("__sn"))
    j = e.join(s, keys, "full_outer")
    ie = F.col("__e") == 1
    isd = F.col("__sn").isNotNull()

    def _cnt(cond, name):
        return (
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(name)
        )

    return j.agg(
        _cnt(ie, "n_expected"),
        _cnt(isd, "n_stored_keys"),
        _cnt(ie & isd, "n_covered"),
        _cnt(ie & ~isd, "n_missing"),
        _cnt(isd & ~ie.eqNullSafe(F.lit(True)), "n_orphan"),
        _cnt(isd & (F.col("__sn") > 1), "n_dup_keys"),
        F.coalesce(F.sum("__sn"), F.lit(0))
        .cast("bigint")
        .alias("n_stored_rows"),
    )


def rebuild_drift(
    hist: DataFrame,
    stored: DataFrame,
    key_cols: list[str] | tuple[str, ...],
    value_col: str | None = None,
) -> DataFrame:
    """One-row drift profile of a first-principles HISTORY recompute
    vs the STORED artifact table restricted to the same slice.

    ``key_cols`` must uniquely key both inputs (the artifact's natural
    key). With ``value_col``, a key present on both sides only counts
    as stable when the values agree (null-safe); without it, presence
    alone is stability and ``n_changed`` is structurally 0.

    Returns (n_hist, n_stored, n_stable, n_changed, n_gained, n_lost):
    gained = stored-only keys (new data clustered / counted what the
    history slice had not), lost = history-only keys (the stored table
    dropped or never had what a rebuild would produce).
    """
    keys = list(key_cols)
    h_cols = [F.col(value_col).alias("__v_hist")] if value_col else []
    s_cols = [F.col(value_col).alias("__v_stored")] if value_col else []
    h = hist.select(*keys, *h_cols, F.lit(1).alias("__in_hist"))
    s = stored.select(*keys, *s_cols, F.lit(1).alias("__in_stored"))
    j = h.join(s, keys, "full_outer")
    ih = F.col("__in_hist") == 1
    isd = F.col("__in_stored") == 1
    both = ih & isd
    if value_col:
        same = F.col("__v_hist").eqNullSafe(F.col("__v_stored"))
        stable, changed = both & same, both & ~same
    else:
        stable, changed = both, F.lit(False)

    def _cnt(cond, name):
        # coalesce: sum over zero rows is NULL, and an empty artifact
        # must read as all-zero drift, not all-NULL
        return (
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias(name)
        )

    return j.agg(
        _cnt(ih, "n_hist"),
        _cnt(isd, "n_stored"),
        _cnt(stable, "n_stable"),
        _cnt(changed, "n_changed"),
        _cnt(isd & ~ih.eqNullSafe(F.lit(True)), "n_gained"),
        _cnt(ih & ~isd.eqNullSafe(F.lit(True)), "n_lost"),
    )
