"""Analytics-breadth queries: multi-level aggregation (ROLLUP /
grouping_id), pivot, exact quantiles, and time-range window frames.

The reference's analytics surface stops at single-key group-bys
(SURVEY §2.4: "no grouping sets / cube / rollup"); these are the
net-new OLAP completions a user of a real warehouse expects, each with
a DuckDB oracle. Scale notes per query; the shared conventions
(identical aliases both sides, decimal sums for order-independent
exactness, timestamps as strings) follow plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.plans.queries import register
from whale_sightings_spark.schemas import load_table

# ---------------------------------------------------------------------------
# q37 — ROLLUP (year, priority): subtotal + grand-total levels in one
# pass. Spark computes rollups as a single expand + hash aggregate
# (partial map-side combine per grouping set); sums are decimal(18,2)
# so the answer is order-independent — a double sum re-ordered by a
# 1000-executor shuffle drifts in the last bits, a decimal sum cannot.
# ---------------------------------------------------------------------------


@register(
    "q37_rollup",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           o_orderpriority AS priority,
           CAST(GROUPING(year(o_orderdate)) * 2
                + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n_orders,
           -- VARCHAR render: both engines sum exactly in decimal, but the
           -- driver renders DuckDB's DECIMAL(38,2) as a double (trailing
           -- zero dropped) vs Spark's DECIMAL(18,2); a fixed-scale string
           -- is identical on both sides.
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS VARCHAR) AS total_price
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)
    """,
)
def q37_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        .rollup("yr", "priority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum("price").alias("total_price"),
        )
        .select(
            "yr",
            "priority",
            "gid",
            "n_orders",
            F.col("total_price").cast("decimal(18,2)").cast("string").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# q38 — pivot: events per day x event_type as columns. The value list
# is DECLARED (not discovered) — at scale an undeclared pivot runs an
# extra distinct-collect job over the fact table just to learn the
# schema; declaring it keeps the plan a single expand + aggregate.
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q38_pivot",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           {", ".join(
               f"count(*) FILTER (WHERE event_type = '{t}') AS {t}"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY 1
    """,
)
def q38_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)  # pivot emits NULL where FILTER counts 0
    )


# ---------------------------------------------------------------------------
# q39 — exact quantiles per group: percentile() with linear
# interpolation == DuckDB quantile_cont. Exact percentile sorts within
# each group — fine keyed by a low-cardinality flag (each group is one
# shuffle partition's sort); for a 100 TB global percentile switch to
# approx_percentile with a driven error bound instead.
# ---------------------------------------------------------------------------


@register(
    "q39_quantiles",
    """
    SELECT l_returnflag AS flag,
           round(quantile_cont(l_quantity, 0.25), 6) AS p25,
           round(quantile_cont(l_quantity, 0.50), 6) AS p50,
           round(quantile_cont(l_quantity, 0.75), 6) AS p75,
           round(avg(l_quantity), 6) AS mean_qty
    FROM lineitem
    GROUP BY 1
    """,
)
def q39_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.expr("percentile(l_quantity, array(0.25D, 0.50D, 0.75D))").alias("q"),
            F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
        )
        .select(
            "flag",
            F.round(F.col("q")[0], 6).alias("p25"),
            F.round(F.col("q")[1], 6).alias("p50"),
            F.round(F.col("q")[2], 6).alias("p75"),
            "mean_qty",
        )
    )


# ---------------------------------------------------------------------------
# q40 — time-range moving aggregate: per-user trailing-1-hour average
# over an event-time RANGE frame. Range frames are defined by the
# ORDER BY *value*, so ties (same ts) get identical frames on both
# engines — no order-dependence. One shuffle on user_id; each user's
# stream sorts locally within its partition.
# ---------------------------------------------------------------------------


@register(
    "q40_moving_avg",
    """
    SELECT event_id,
           user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ), 6) AS avg_1h,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_1h
    FROM events
    WHERE user_id % 10 = 0
    """,
)
def q40_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    w = (
        W.partitionBy("user_id")
        # ts loads as TIMESTAMP_NTZ; route through TIMESTAMP (identity
        # under the UTC-pinned session) to get epoch microseconds: whole
        # seconds would pull an event 3600.8 s back into the frame
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
        F.count("*").over(w).alias("n_1h"),
    )
