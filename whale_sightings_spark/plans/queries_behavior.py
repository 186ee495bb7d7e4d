"""Behavioral analytics + data-quality family (net-new: the event-log
workloads a warehouse serves alongside the reference's occurrence
pipeline, plus the audit queries its validation stage
(`whalefinder/validate.py:62-124` parity ops) implies at fleet scale):

- q75 data-quality audit (null/dup/orphan/range checks in one pass)
- q76 CDC apply (last-writer-wins compaction of an op log)
- q77 ordered conversion funnel (view -> click -> purchase)
- q78 cohort retention matrix
- q79 count-min sketch heavy hitters (manual CMS, cross-engine
  deterministic, estimate >= exact provable contract)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.functions import text as TX
from whale_sightings_spark.functions.hashing import hash60, hash60_sql
from whale_sightings_spark.plans.queries import register
from whale_sightings_spark.schemas import load_table
from whale_sightings_spark.session import barrier


# ---------------------------------------------------------------------------
# q75 — data-quality audit: the constraint checks (required fields, key
# uniqueness, referential integrity, value ranges) the reference runs
# per-row in Pydantic, re-expressed as one set-oriented pass. Null /
# range / duplicate metrics come from a single aggregate over the fact;
# the orphan count is one anti-join against the dimension. Two shuffles
# total, output is one audit row.
# ---------------------------------------------------------------------------

@register(
    "q75_dq_audit",
    """
    WITH m AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_custkey,
               count(*) - count(DISTINCT o_orderkey) AS n_dup_orderkey,
               CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nonpos_price
        FROM orders
    ),
    orph AS (
        SELECT count(*) AS n_orphans
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
    )
    SELECT m.n_rows, m.n_null_custkey, m.n_dup_orderkey, m.n_nonpos_price,
           orph.n_orphans
    FROM m CROSS JOIN orph
    """,
)
def q75_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    metrics = orders.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_null_custkey"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("n_dup_orderkey"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("n_nonpos_price"),
    )
    orphans = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_orphans"))
    )
    return metrics.crossJoin(F.broadcast(orphans))


# ---------------------------------------------------------------------------
# q76 — CDC apply: compact an insert/update/delete op log to final
# state with last-writer-wins semantics. Op order is (ts, event_id) —
# the tie-break makes compaction deterministic under replay, the same
# idempotence contract as the streaming foreachBatch sink. One window
# shuffle partitioned by the key; at 100 TB this is the standard
# "latest snapshot from a change stream" materialization.
# ---------------------------------------------------------------------------

@register(
    "q76_cdc_apply",
    """
    WITH oplog AS (
        SELECT user_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               event_type, value, ts, event_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           event_type AS last_type,
           round(value, 2) AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM oplog
    WHERE rn = 1 AND op = 'U'
    """,
)
def q76_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            F.round("value", 2).alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
    )


# ---------------------------------------------------------------------------
# q77 — ordered conversion funnel: users who viewed, then clicked
# AFTER the first view, then purchased AFTER that click. Step times are
# chained per-user window minima — all three windows share the user_id
# partitioning, so the whole funnel is ONE shuffle and three window
# passes over co-partitioned data (not three self-joins).
# ---------------------------------------------------------------------------

@register(
    "q77_funnel",
    """
    WITH w1 AS (
        SELECT user_id, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1
        FROM events
    ),
    w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
        FROM w1
    ),
    w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
        FROM w2
    ),
    u AS (
        SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
        FROM w3 GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t1) AS n_view,
           count(t2) AS n_view_click,
           count(t3) AS n_full_funnel
    FROM u
    """,
)
def q77_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    users = s3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return users.agg(
        F.count("*").alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# q78 — cohort retention: users bucketed by first-activity day, counted
# at each day offset they return. distinct (user, day) activity -> per-
# user cohort min -> join back (co-partitioned on user_id) -> cohort x
# offset counts. Two key shuffles; the retention matrix is bounded by
# days², not rows.
# ---------------------------------------------------------------------------

@register(
    "q78_retention",
    """
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohort AS (
        SELECT user_id, min(day) AS c0 FROM activity GROUP BY user_id
    )
    SELECT strftime(c.c0, '%Y-%m-%d') AS cohort_day,
           CAST(a.day - c.c0 AS INT) AS offset_days,
           count(*) AS n_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def q78_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("day").alias("c0"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            F.date_format("c0", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("day", "c0").cast("int").alias("offset_days"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# q79 — count-min sketch heavy hitters, built by hand so the sketch is
# bit-identical in both engines (Spark's count_min_sketch returns an
# opaque binary the oracle can't read; xxhash64/hash() differ between
# engines — the shared hash60 md5 primitive is the portable base).
# Sketch: depth 4 x width 1024; cell (r, c) sums occurrences of tokens
# with hash60(r || tok) % 1024 = c. Estimate for a token = min over its
# 4 cells — by construction >= the exact count (collisions only
# inflate). Output: top-20 exact heavy hitters with their CMS
# estimates, so the overestimate contract is oracle-verified. The
# sketch is 4096 mergeable cells regardless of corpus size — the
# 100 TB answer to "top-k without a full-vocabulary shuffle".
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_TOPK = 20


def _cms_cell(tok, r: int):
    return hash60(F.concat(F.lit(f"{r}:"), tok)) % _CMS_WIDTH


def _cms_cell_sql(tok_expr: str, r: int) -> str:
    inner = hash60_sql(f"'{r}:' || {tok_expr}")
    return f"({inner} % {_CMS_WIDTH})"


def _union_rows(template: str) -> str:
    """Expand one SELECT per sketch row r, UNION ALL'd."""
    parts = [template.format(r=r, cell=_cms_cell_sql("tok", r)) for r in range(_CMS_DEPTH)]
    return " UNION ALL ".join(parts)


@register(
    "q79_cms_topk",
    f"""
    WITH toks AS (
        SELECT unnest({TX.tokens_sql("text")}) AS tok
        FROM documents WHERE trim(text) <> ''
    ),
    tf AS (
        SELECT tok, count(*) AS n_tok FROM toks GROUP BY tok
    ),
    cells AS (
        SELECT r, c, CAST(sum(n_tok) AS BIGINT) AS cell_n FROM (
            {_union_rows("SELECT {r} AS r, {cell} AS c, n_tok FROM tf")}
        ) GROUP BY r, c
    ),
    exact AS (
        SELECT tok, n_tok AS n FROM tf ORDER BY n_tok DESC, tok LIMIT {_CMS_TOPK}
    ),
    probes AS (
        {_union_rows("SELECT tok, n, {r} AS r, {cell} AS c FROM exact")}
    )
    SELECT p.tok, p.n AS exact_n,
           min(cl.cell_n) AS cms_n,
           min(cl.cell_n) >= p.n AS contract_holds
    FROM probes p JOIN cells cl ON cl.r = p.r AND cl.c = p.c
    GROUP BY p.tok, p.n
    """,
)
def q79_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.trim("text") != "")
        .select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    )
    # term frequencies once; both the sketch and the exact top-k reuse it
    tf = toks.groupBy("tok").agg(F.count("*").alias("n_tok"))
    # sketch cells: depth x width, built from the tf table (not raw
    # occurrences) so the explode factor applies to distinct tokens
    cells = (
        tf.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cms_cell(F.col("tok"), r).alias("c"),
                            F.col("n_tok").alias("n_tok"),
                        )
                        for r in range(_CMS_DEPTH)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.r", "cell.c", "cell.n_tok")
        .groupBy("r", "c")
        .agg(F.sum("n_tok").alias("cell_n"))
    )
    exact = tf.orderBy(F.col("n_tok").desc(), "tok").limit(_CMS_TOPK).select(
        "tok", F.col("n_tok").alias("n")
    )
    # long-form probes (topk x depth rows) -> broadcast equi-join on (r, c)
    probes = exact.select(
        "tok",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _cms_cell(F.col("tok"), r).alias("c")
                    )
                    for r in range(_CMS_DEPTH)
                ]
            )
        ).alias("p"),
    ).select("tok", "n", "p.r", "p.c")
    probe_cells = F.broadcast(probes).join(cells, ["r", "c"])
    return (
        probe_cells.groupBy(F.col("tok"), F.col("n").alias("exact_n"))
        .agg(F.min("cell_n").alias("cms_n"))
        .select(
            "tok",
            "exact_n",
            "cms_n",
            (F.col("cms_n") >= F.col("exact_n")).alias("contract_holds"),
        )
    )


# ---------------------------------------------------------------------------
# q135 — distribution-drift monitor (PSI): population stability index
# of the event value distribution, current half vs reference half —
# the standing check an ML-ops pipeline runs before trusting new data
# against a trained model. Bin boundaries are exact deciles of the
# REFERENCE half (one single-row percentile agg, broadcast — the q72
# shape); both halves bin row-local in one scan and meet in a single
# 10-group aggregation; proportions carry Laplace smoothing (+0.5 per
# bin) so a bin empty on one side cannot produce ln(0) — the smoothing
# is part of the operator contract, identical in both engines. Total
# PSI = sum(psi_term); > 0.2 is the conventional retrain alarm.
# ---------------------------------------------------------------------------

_PSI_SPLIT = "2024-01-16 00:00:00"
_PSI_DECILES = [i / 10 for i in range(1, 10)]
_PSI_BINS = len(_PSI_DECILES) + 1


@register(
    "q135_psi_drift",
    f"""
    WITH e AS (
        SELECT CAST(value AS DOUBLE) AS x,
               ts >= TIMESTAMP '{_PSI_SPLIT}' AS is_cur
        FROM events
    ),
    b AS (
        SELECT quantile_cont(x, {_PSI_DECILES}) AS bounds
        FROM e WHERE NOT is_cur
    ),
    bn AS (
        SELECT CAST(1 + len(list_filter(b.bounds, v -> e.x > v)) AS INT) AS bin,
               is_cur
        FROM e CROSS JOIN b
    ),
    a AS (
        SELECT bin,
               sum(CASE WHEN is_cur THEN 0 ELSE 1 END) AS n_ref,
               sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS n_cur
        FROM bn GROUP BY bin
    ),
    t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM a)
    SELECT bin,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round((n_ref + 0.5) / (tr + {_PSI_BINS} * 0.5), 6) AS p_ref,
           round((n_cur + 0.5) / (tc + {_PSI_BINS} * 0.5), 6) AS p_cur,
           round(((n_ref + 0.5) / (tr + {_PSI_BINS} * 0.5)
                  - (n_cur + 0.5) / (tc + {_PSI_BINS} * 0.5))
                 * ln(((n_ref + 0.5) / (tr + {_PSI_BINS} * 0.5))
                      / ((n_cur + 0.5) / (tc + {_PSI_BINS} * 0.5))), 6)
               AS psi_term
    FROM a CROSS JOIN t
    """,
)
def q135_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").cast("double").alias("x"),
        (F.col("ts") >= F.lit(_PSI_SPLIT)).alias("is_cur"),
    )
    bounds = ev.filter(~F.col("is_cur")).agg(
        F.percentile("x", F.lit(_PSI_DECILES)).alias("bounds")
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        (1 + F.size(F.filter("bounds", lambda v: F.col("x") > v)))
        .cast("int")
        .alias("bin"),
        "is_cur",
    )
    # 10-row bin table referenced by the totals and the psi terms —
    # each replayed the corpus binning pass
    a = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("is_cur"), 0).otherwise(1)).alias("n_ref"),
            F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).alias("n_cur"),
        )
        .transform(barrier)
    )
    t = a.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    pr = (F.col("n_ref") + 0.5) / (F.col("tr") + _PSI_BINS * 0.5)
    pc = (F.col("n_cur") + 0.5) / (F.col("tc") + _PSI_BINS * 0.5)
    return a.crossJoin(F.broadcast(t)).select(
        "bin",
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(pr, 6).alias("p_ref"),
        F.round(pc, 6).alias("p_cur"),
        F.round((pr - pc) * F.log(pr / pc), 6).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# q146 — k-anonymity audit: before releasing a structured extract,
# count the quasi-identifier groups smaller than k — every row in such
# a group is re-identifiable by joining on the quasi-identifiers
# (here (nation, market segment); real deployments pass the QI set).
# One keyed agg to group sizes, then a group-cardinality-sized rollup;
# the per-nation breakdown of risky rows keeps the report actionable.
# ---------------------------------------------------------------------------

_K_ANON = 5


@register(
    "q146_k_anonymity",
    f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey AS nation_id,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_groups,
           CAST(sum(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT)
               AS n_risky_rows,
           CAST(min(n) AS BIGINT) AS min_group_size
    FROM g
    GROUP BY c_nationkey
    """,
)
def q146_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
    small = F.col("n") < _K_ANON
    return g.groupBy(F.col("c_nationkey").alias("nation_id")).agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(small, 1).otherwise(0)).cast("bigint").alias("n_small_groups"),
        F.sum(F.when(small, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_risky_rows"),
        F.min("n").cast("bigint").alias("min_group_size"),
    )


# ---------------------------------------------------------------------------
# q189 — temporal leakage-safe split audit: train = events before the
# cut date, test = at/after, with the per-event-type entity-leakage
# report (users active on BOTH sides). Doc-keyed random splits leak
# through time (a model trained on a user's January behavior is
# evaluated on the same user's February); q126 guards the near-dup
# axis, this guards the temporal/entity axis — the audit a
# forecasting or ranking pipeline runs before trusting its eval. One
# (event_type, user_id)-keyed partial agg then a type-sized rollup;
# nothing row-scale shuffles twice. Timestamps compared as UTC-naive
# literals (session TZ pinned UTC, the house convention).
# ---------------------------------------------------------------------------

_TSPLIT_CUT = "2024-01-22 00:00:00"


@register(
    "q189_temporal_leakage_split",
    f"""
    WITH g AS (
        SELECT event_type, user_id,
               count(*) FILTER (ts <  TIMESTAMP '{_TSPLIT_CUT}') AS n_tr,
               count(*) FILTER (ts >= TIMESTAMP '{_TSPLIT_CUT}') AS n_te
        FROM events
        GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(sum(n_tr) AS BIGINT) AS n_train_events,
           CAST(sum(n_te) AS BIGINT) AS n_test_events,
           CAST(count(*) FILTER (n_tr > 0) AS BIGINT) AS n_users_train,
           CAST(count(*) FILTER (n_te > 0) AS BIGINT) AS n_users_test,
           CAST(count(*) FILTER (n_tr > 0 AND n_te > 0) AS BIGINT)
               AS n_users_leaked,
           round(CAST(count(*) FILTER (n_tr > 0 AND n_te > 0) AS DOUBLE)
                 / greatest(count(*) FILTER (n_te > 0), 1), 6)
               AS leaked_test_share
    FROM g
    GROUP BY event_type
    """,
)
def q189_temporal_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_TSPLIT_CUT).cast("timestamp")
    g = ev.groupBy("event_type", "user_id").agg(
        F.sum((F.col("ts") < cut).cast("long")).alias("n_tr"),
        F.sum((F.col("ts") >= cut).cast("long")).alias("n_te"),
    )
    tr = F.col("n_tr") > 0
    te = F.col("n_te") > 0
    leaked = F.sum((tr & te).cast("long"))
    return g.groupBy("event_type").agg(
        F.sum("n_tr").cast("long").alias("n_train_events"),
        F.sum("n_te").cast("long").alias("n_test_events"),
        F.sum(tr.cast("long")).alias("n_users_train"),
        F.sum(te.cast("long")).alias("n_users_test"),
        leaked.alias("n_users_leaked"),
        F.round(
            leaked / F.greatest(F.sum(te.cast("long")), F.lit(1)), 6
        ).alias("leaked_test_share"),
    )


# ---------------------------------------------------------------------------
# q195 — event-transition mining: the first-order Markov transition
# matrix over per-user event streams, with lift against target base
# rates — the sequence-mining primitive behind next-action models and
# funnel discovery (q77 checks ONE declared funnel; this surfaces
# which transitions are over-represented at all). One user-keyed
# window (lag, deterministic (ts, event_id) order) then a
# type²-bounded agg; base rates join back as a broadcast type-sized
# table. Nothing row-scale shuffles twice.
# ---------------------------------------------------------------------------


@register(
    "q195_transition_lift",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    tr AS (
        SELECT prev_type AS src_type, event_type AS dst_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    src AS (SELECT src_type, sum(n) AS n_src FROM tr GROUP BY src_type),
    dst AS (SELECT dst_type, sum(n) AS n_dst FROM tr GROUP BY dst_type),
    tot AS (SELECT sum(n) AS t FROM tr)
    SELECT tr.src_type, tr.dst_type,
           CAST(tr.n AS BIGINT) AS n_trans,
           round(CAST(tr.n AS DOUBLE) / src.n_src, 6) AS p_dst_given_src,
           round((CAST(tr.n AS DOUBLE) / src.n_src)
                 / (CAST(dst.n_dst AS DOUBLE) / tot.t), 6) AS lift
    FROM tr
    JOIN src USING (src_type)
    JOIN dst USING (dst_type)
    CROSS JOIN tot
    """,
)
def q195_transition_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    # type^2-bounded, referenced four times (both margins, the grand
    # total, the lift join) — each replayed the corpus lag window +
    # agg
    tr = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src_type"),
            F.col("event_type").alias("dst_type"),
        )
        .agg(F.count("*").alias("n"))
        .transform(barrier)
    )
    src = tr.groupBy("src_type").agg(F.sum("n").alias("n_src"))
    dst = tr.groupBy("dst_type").agg(F.sum("n").alias("n_dst"))
    tot = tr.agg(F.sum("n").alias("t"))
    return (
        tr.join(F.broadcast(src), "src_type")
        .join(F.broadcast(dst), "dst_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "src_type",
            "dst_type",
            F.col("n").cast("long").alias("n_trans"),
            F.round(F.col("n") / F.col("n_src"), 6).alias("p_dst_given_src"),
            F.round(
                (F.col("n") / F.col("n_src")) / (F.col("n_dst") / F.col("t")), 6
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q196 — inter-event-time exponential fit: per-user arrival gaps, the
# global MLE rate (λ = 1/mean), and a binned goodness-of-fit report
# (observed vs exponential-expected share per mean-multiple bin).
# This is how you size streaming state honestly: watermarks, session
# gaps (q41's 30-min literal), and state TTLs all assume an arrival
# process — this query checks the assumption and prices the tail. One
# user-keyed lag window, a 1-row mean, then a 5-bin agg; bin edges in
# multiples of the mean so the expected shares are closed-form
# constants (exp(-lo) - exp(-hi)) identical in both engines.
# ---------------------------------------------------------------------------

_IET_BINS = ((0.0, 0.25), (0.25, 0.5), (0.5, 1.0), (1.0, 2.0), (2.0, None))


def _iet_expected(lo: float, hi: float | None) -> float:
    import math

    return math.exp(-lo) - (math.exp(-hi) if hi is not None else 0.0)


@register(
    "q196_interarrival_fit",
    f"""
    WITH gaps AS (
        SELECT CAST(date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) AS DOUBLE) AS gap_s
        FROM events
    ),
    g AS (SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL),
    m AS (SELECT avg(gap_s) AS mean_s, count(*) AS n FROM g),
    b AS (
        SELECT CASE {" ".join(
            f"WHEN gap_s < {hi} * m.mean_s THEN {i}" if hi is not None else f"ELSE {i}"
            for i, (lo, hi) in enumerate(_IET_BINS)
        )} END AS bin, m.mean_s, m.n
        FROM g CROSS JOIN m
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(CAST(count(*) AS DOUBLE) / any_value(n), 6) AS obs_share,
           round(CASE {" ".join(
               f"WHEN bin = {i} THEN CAST({_iet_expected(lo, hi)!r} AS DOUBLE)"
               for i, (lo, hi) in enumerate(_IET_BINS)
           )} END, 6) AS exp_share,
           round(abs(round(CAST(count(*) AS DOUBLE) / any_value(n), 6)
                 - round(CASE {" ".join(
                     f"WHEN bin = {i} THEN CAST({_iet_expected(lo, hi)!r} AS DOUBLE)"
                     for i, (lo, hi) in enumerate(_IET_BINS)
                 )} END, 6)), 6) AS gap,
           round(any_value(mean_s), 6) AS mean_gap_s
    FROM b
    GROUP BY bin
    """,
)
def q196_interarrival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = (
        sec
        - F.lag(sec).over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    ).cast("double")
    # referenced by the mean aggregate AND the binning pass — each
    # would replay the corpus lag window
    g = (
        ev.select(gap.alias("gap_s"))
        .filter(F.col("gap_s").isNotNull())
        .transform(barrier)
    )
    m = g.agg(F.avg("gap_s").alias("mean_s"), F.count("*").alias("n"))
    binc = None
    for i, (_lo, hi) in enumerate(_IET_BINS):
        if hi is None:
            binc = binc.otherwise(i)
        else:
            cond = F.col("gap_s") < hi * F.col("mean_s")
            binc = F.when(cond, i) if binc is None else binc.when(cond, i)
    expc = None
    for i, (lo, hi) in enumerate(_IET_BINS):
        e = _iet_expected(lo, hi)
        expc = F.when(F.col("bin") == i, e) if expc is None else expc.when(
            F.col("bin") == i, e
        )
    b = g.crossJoin(F.broadcast(m)).select(
        binc.alias("bin"), "mean_s", "n"
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count("*").alias("n_obs"),
            F.round(F.count("*") / F.first("n"), 6).alias("obs_share"),
            F.first("mean_s").alias("mean_s_raw"),
        )
        .select(
            "bin",
            "n_obs",
            "obs_share",
            F.round(expc, 6).alias("exp_share"),
            F.round(F.abs(F.col("obs_share") - F.round(expc, 6)), 6).alias("gap"),
            F.round("mean_s_raw", 6).alias("mean_gap_s"),
        )
    )


# ---------------------------------------------------------------------------
# q206 — per-event-type daily trend: ordinary-least-squares slope /
# intercept / r^2 of events-per-day over the observed date range, the
# capacity-planning readout a pipeline owner wants next to q196's
# arrival-process fit (is traffic growing, and how linearly?). The
# types x observed-days grid is zero-filled so missing (type, day)
# combos count as 0 rather than silently shrinking n. All regression
# moments (n, Sx, Sy, Sxy, Sxx, Syy) are exact integer sums; the only
# doubles are the three final divisions, written with identical
# association in both engines (the q196 round-inputs-first discipline:
# nothing rounded is a derived difference of raw doubles). Shape: one
# groupBy over the fact, a bounded types x days grid, output |types|
# rows; no windows, no per-row Python.
# ---------------------------------------------------------------------------

@register(
    "q206_event_trend_ols",
    """
    WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
    m AS (SELECT min(d) AS d0 FROM e),
    days AS (SELECT DISTINCT d FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    daily AS (SELECT event_type, d, count(*) AS y
              FROM e GROUP BY event_type, d),
    grid AS (
        SELECT t.event_type,
               CAST(date_diff('day', m.d0, dy.d) AS BIGINT) AS x,
               CAST(coalesce(dl.y, 0) AS BIGINT) AS y
        FROM types t CROSS JOIN days dy CROSS JOIN m
        LEFT JOIN daily dl
               ON dl.event_type = t.event_type AND dl.d = dy.d
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM grid GROUP BY event_type
    ),
    c AS (
        SELECT event_type, n, sx, sy,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS d1,
               n * syy - sy * sy AS d2
        FROM s
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(sy AS BIGINT) AS n_events,
           round(CAST(num AS DOUBLE) / CAST(d1 AS DOUBLE), 6)
               AS slope_per_day,
           round((CAST(sy AS DOUBLE)
                  - (CAST(num AS DOUBLE) / CAST(d1 AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               AS intercept,
           CASE WHEN d1 = 0 OR d2 = 0 THEN NULL
                ELSE round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                           / (CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 6)
           END AS r2
    FROM c
    """,
)
def q206_event_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", F.col("ts").cast("date").alias("d"))
    # r13 (guide §1.2 "don't compute things you throw away" / §2.4):
    # m, days and types are derivable from the tiny `daily` aggregate —
    # every e-row lands in some (event_type, d) group — so the corpus
    # scans behind the three broadcast sides collapse into daily's one
    # aggregation (4 events scans -> 1; same rows, same integers). The
    # barrier is also the optimizer barrier that keeps it one pass:
    # without it Catalyst collapses distinct-over-groupBy-keys back
    # into distinct-over-e and re-derives each side from the corpus.
    daily = (
        e.groupBy("event_type", "d")
        .agg(F.count("*").alias("y"))
        .transform(barrier)  # types x days rows
    )
    m = daily.agg(F.min("d").alias("d0"))
    days = daily.select("d").distinct()
    types = daily.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .crossJoin(F.broadcast(m))
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.datediff(F.col("d"), F.col("d0")).cast("bigint").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y"),
        )
    )
    s = grid.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c = s.select(
        "event_type",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("d1"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("d2"),
    )
    num_d = F.col("num").cast("double")
    d1_d = F.col("d1").cast("double")
    d2_d = F.col("d2").cast("double")
    slope = num_d / d1_d
    return c.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sy").alias("n_events"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            6,
        ).alias("intercept"),
        F.when((F.col("d1") == 0) | (F.col("d2") == 0), F.lit(None)).otherwise(
            F.round(num_d * num_d / (d1_d * d2_d), 6)
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q208 — t-closeness audit (privacy release gate, the step after
# q146's k-anonymity): for each quasi-identifier group
# (nation, market segment), the Earth Mover's Distance between the
# group's distribution of the ordered sensitive attribute (account
# balance, 8 fixed buckets) and the global distribution. k-anonymity
# says a group is big enough to hide in; t-closeness says the group
# doesn't leak the sensitive value anyway (EMD <= t). For an ordered
# attribute EMD = sum_k |cumP_k - cumQ_k| / (m-1); here the cumulative
# difference is kept in scaled INTEGER form D_k = N*cum_g_k - n_g*cum_G_k
# so the statistic is exact until one final division (q196 discipline).
# Shape: one fact agg to (group, bucket) counts, a groups x 8-bucket
# zero-filled grid (bounded: |nations|x|segments|x8), two windows over
# the aggregated grid (per-group cum, then per-bucket global roll-up),
# output one row per QI group.
# ---------------------------------------------------------------------------

_TCLOSE_M = 8          # fixed sensitive-attribute buckets
_TCLOSE_T = 0.2        # release threshold

_TCLOSE_BKT_SQL = (
    "least(greatest(CAST(floor((c_acctbal + 1000.0) / 1375.0) AS INT), 0), "
    f"{_TCLOSE_M - 1})"
)


@register(
    "q208_t_closeness",
    f"""
    WITH b AS (
        SELECT c_nationkey, c_mktsegment, {_TCLOSE_BKT_SQL} AS bkt
        FROM customer
    ),
    g AS (SELECT c_nationkey, c_mktsegment, count(*) AS ng
          FROM b GROUP BY c_nationkey, c_mktsegment),
    grand AS (SELECT count(*) AS n FROM b),
    gb AS (SELECT c_nationkey, c_mktsegment, bkt, count(*) AS c
           FROM b GROUP BY c_nationkey, c_mktsegment, bkt),
    grid AS (
        SELECT g.c_nationkey, g.c_mktsegment, g.ng, r.bkt,
               coalesce(gb.c, 0) AS c
        FROM g CROSS JOIN (SELECT unnest(range({_TCLOSE_M})) AS bkt) r
        LEFT JOIN gb ON gb.c_nationkey = g.c_nationkey
                    AND gb.c_mktsegment = g.c_mktsegment
                    AND gb.bkt = r.bkt
    ),
    cum AS (
        SELECT c_nationkey, c_mktsegment, ng, bkt,
               CAST(sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment
                                 ORDER BY bkt) AS BIGINT) AS cum_g
        FROM grid
    ),
    cum2 AS (
        SELECT *, CAST(sum(cum_g) OVER (PARTITION BY bkt) AS BIGINT)
                      AS cum_all
        FROM cum
    ),
    d AS (
        SELECT c_nationkey, c_mktsegment, ng,
               abs(cum_g * n - ng * cum_all) AS dk,
               ng * n * {_TCLOSE_M - 1} AS den
        FROM cum2 CROSS JOIN grand
    )
    SELECT c_nationkey AS nation_id, c_mktsegment AS segment,
           CAST(any_value(ng) AS BIGINT) AS n_rows,
           round(CAST(sum(dk) AS DOUBLE)
                 / CAST(any_value(den) AS DOUBLE), 6) AS emd,
           CAST(CASE WHEN CAST(sum(dk) AS DOUBLE)
                          / CAST(any_value(den) AS DOUBLE) > {_TCLOSE_T}
                     THEN 1 ELSE 0 END AS INT) AS leaky
    FROM d
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def q208_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    bkt = F.least(
        F.greatest(
            F.floor((F.col("c_acctbal") + 1000.0) / 1375.0).cast("int"),
            F.lit(0),
        ),
        F.lit(_TCLOSE_M - 1),
    )
    b = cust.select("c_nationkey", "c_mktsegment", bkt.alias("bkt"))
    g = b.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("ng")
    )
    grand = b.agg(F.count("*").alias("n"))
    gb = b.groupBy("c_nationkey", "c_mktsegment", "bkt").agg(
        F.count("*").alias("c")
    )
    buckets = spark.range(_TCLOSE_M).select(
        F.col("id").cast("int").alias("bkt")
    )
    grid = (
        g.crossJoin(F.broadcast(buckets))
        .join(gb, ["c_nationkey", "c_mktsegment", "bkt"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "ng",
            "bkt",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    wg = W.partitionBy("c_nationkey", "c_mktsegment").orderBy("bkt")
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "ng",
        "bkt",
        F.sum("c").over(wg).cast("bigint").alias("cum_g"),
    )
    cum2 = cum.withColumn(
        "cum_all", F.sum("cum_g").over(W.partitionBy("bkt")).cast("bigint")
    )
    d = cum2.crossJoin(F.broadcast(grand)).select(
        "c_nationkey",
        "c_mktsegment",
        "ng",
        F.abs(
            F.col("cum_g") * F.col("n") - F.col("ng") * F.col("cum_all")
        ).alias("dk"),
        (F.col("ng") * F.col("n") * (_TCLOSE_M - 1)).alias("den"),
    )
    emd = F.sum("dk").cast("double") / F.first("den").cast("double")
    return d.groupBy(
        F.col("c_nationkey").alias("nation_id"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.first("ng").cast("bigint").alias("n_rows"),
        F.round(emd, 6).alias("emd"),
        F.when(emd > _TCLOSE_T, 1).otherwise(0).cast("int").alias("leaky"),
    )


# ---------------------------------------------------------------------------
# q209 — CUSUM change-point detection on daily event volume, per
# event type: the day where the cumulative deviation from the overall
# mean rate peaks (the classic single-change-point estimator), with
# the normalized CUSUM statistic and the direction of the shift. This
# is the alerting readout next to q206's trend (drift is gradual;
# a change point is a deploy, an outage, a bot). The deviation is kept
# in scaled INTEGER form dev_k = D*cum_k - (k+1)*T (D days, T total
# events), so the argmax and its min-day tie-break are exact; one
# division at the end normalizes to [0, 1). Same zero-filled
# types x observed-days grid as q206; windows run per event type over
# the aggregated grid (the sanctioned q111 shape); output |types| rows.
# ---------------------------------------------------------------------------

@register(
    "q209_changepoint_cusum",
    """
    WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
    m AS (SELECT min(d) AS d0 FROM e),
    days AS (SELECT DISTINCT d FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    daily AS (SELECT event_type, d, count(*) AS y
              FROM e GROUP BY event_type, d),
    grid AS (
        SELECT t.event_type,
               CAST(date_diff('day', m.d0, dy.d) AS BIGINT) AS x,
               dy.d,
               CAST(coalesce(dl.y, 0) AS BIGINT) AS y
        FROM types t CROSS JOIN days dy CROSS JOIN m
        LEFT JOIN daily dl
               ON dl.event_type = t.event_type AND dl.d = dy.d
    ),
    cum AS (
        SELECT event_type, x, d, y,
               CAST(sum(y) OVER (PARTITION BY event_type ORDER BY x)
                    AS BIGINT) AS cum_y,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS nd,
               CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT)
                   AS tot
        FROM grid
    ),
    dev AS (
        SELECT event_type, x, d, nd, tot,
               nd * cum_y - (x + 1) * tot AS dv
        FROM cum
    ),
    mx AS (
        SELECT *, max(abs(dv)) OVER (PARTITION BY event_type) AS peak
        FROM dev
    )
    SELECT event_type,
           CAST(any_value(nd) AS BIGINT) AS n_days,
           CAST(any_value(tot) AS BIGINT) AS n_events,
           CAST(min(CASE WHEN abs(dv) = peak THEN x END) AS BIGINT)
               AS change_x,
           strftime(min(CASE WHEN abs(dv) = peak THEN d END),
                    '%Y-%m-%d') AS change_date,
           round(CAST(any_value(peak) AS DOUBLE)
                 / CAST(any_value(nd) * any_value(tot) AS DOUBLE), 6)
               AS cusum_stat,
           CAST(any_value(CASE WHEN abs(dv) = peak THEN
                    CASE WHEN dv >= 0 THEN 1 ELSE -1 END END
                ORDER BY CASE WHEN abs(dv) = peak THEN x END NULLS LAST)
               AS INT) AS direction
    FROM mx
    GROUP BY event_type
    """,
)
def q209_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", F.col("ts").cast("date").alias("d"))
    # r13 (guide §1.2 "don't compute things you throw away" / §2.4):
    # m, days and types are derivable from the tiny `daily` aggregate —
    # every e-row lands in some (event_type, d) group — so the corpus
    # scans behind the three broadcast sides collapse into daily's one
    # aggregation (4 events scans -> 1; same rows, same integers). The
    # barrier is also the optimizer barrier that keeps it one pass:
    # without it Catalyst collapses distinct-over-groupBy-keys back
    # into distinct-over-e and re-derives each side from the corpus.
    daily = (
        e.groupBy("event_type", "d")
        .agg(F.count("*").alias("y"))
        .transform(barrier)  # types x days rows
    )
    m = daily.agg(F.min("d").alias("d0"))
    days = daily.select("d").distinct()
    types = daily.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .crossJoin(F.broadcast(m))
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.datediff(F.col("d"), F.col("d0")).cast("bigint").alias("x"),
            "d",
            F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y"),
        )
    )
    wo = W.partitionBy("event_type").orderBy("x")
    wp = W.partitionBy("event_type")
    cum = grid.select(
        "event_type",
        "x",
        "d",
        F.sum("y").over(wo).cast("bigint").alias("cum_y"),
        F.count("*").over(wp).cast("bigint").alias("nd"),
        F.sum("y").over(wp).cast("bigint").alias("tot"),
    )
    dev = cum.select(
        "event_type",
        "x",
        "d",
        "nd",
        "tot",
        (F.col("nd") * F.col("cum_y") - (F.col("x") + 1) * F.col("tot"))
        .alias("dv"),
    )
    mx = dev.withColumn("peak", F.max(F.abs(F.col("dv"))).over(wp))
    at_peak = F.abs(F.col("dv")) == F.col("peak")
    return mx.groupBy("event_type").agg(
        F.first("nd").alias("n_days"),
        F.first("tot").alias("n_events"),
        F.min(F.when(at_peak, F.col("x"))).cast("bigint").alias("change_x"),
        F.date_format(F.min(F.when(at_peak, F.col("d"))), "yyyy-MM-dd")
        .alias("change_date"),
        F.round(
            F.first("peak").cast("double")
            / (F.first("nd") * F.first("tot")).cast("double"),
            6,
        ).alias("cusum_stat"),
        F.min_by(
            F.when(F.col("dv") >= 0, 1).otherwise(-1),
            F.when(at_peak, F.col("x")),
        )
        .cast("int")
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# q210 — Benford leading-digit audit on order totals: observed vs
# Benford-expected first-significant-digit shares, with per-digit
# deviation and chi-square terms. The classic forensic data-quality
# screen for fabricated or truncated numeric columns (synthetic or
# capped pipelines flunk it in characteristic ways). Digit extraction
# never touches log10-of-double (1-ulp-unsafe across engines): prices
# are cent-valued, so round(x*100) -> BIGINT -> first character of the
# integer's decimal string is exact and engine-identical, and the
# leading significant digit of x*100 equals that of x. Expected shares
# are closed-form Python literals embedded identically in both engines
# (the q196 bin convention); dev follows round-inputs-first. Shape:
# one fact agg to 9 digit counts, a zero-filled 9-row grid, output 9
# rows; one scalar broadcast for n.
# ---------------------------------------------------------------------------

_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


@register(
    "q210_benford_audit",
    f"""
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
    ),
    dd AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
               AS digit FROM v),
    c AS (SELECT digit, count(*) AS n_obs FROM dd GROUP BY digit),
    tot AS (SELECT count(*) AS n FROM dd),
    grid AS (
        SELECT r.digit, CAST(coalesce(c.n_obs, 0) AS BIGINT) AS n_obs
        FROM (SELECT unnest(range(1, 10)) AS digit) r
        LEFT JOIN c ON c.digit = r.digit
    )
    SELECT CAST(digit AS INT) AS digit,
           n_obs,
           round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS obs_share,
           round(CASE {" ".join(
               f"WHEN digit = {d} THEN CAST({p!r} AS DOUBLE)"
               for d, p in _BENFORD_P.items()
           )} END, 6) AS exp_share,
           round(abs(round(CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 - round(CASE {" ".join(
                     f"WHEN digit = {d} THEN CAST({p!r} AS DOUBLE)"
                     for d, p in _BENFORD_P.items()
                 )} END, 6)), 6) AS dev,
           round((CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * CASE {" ".join(
               f"WHEN digit = {d} THEN CAST({p!r} AS DOUBLE)"
               for d, p in _BENFORD_P.items()
           )} END) * (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * CASE {" ".join(
               f"WHEN digit = {d} THEN CAST({p!r} AS DOUBLE)"
               for d, p in _BENFORD_P.items()
           )} END) / (CAST(n AS DOUBLE) * CASE {" ".join(
               f"WHEN digit = {d} THEN CAST({p!r} AS DOUBLE)"
               for d, p in _BENFORD_P.items()
           )} END), 6) AS chi2_term
    FROM grid CROSS JOIN tot
    """,
)
def q210_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    v = orders.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("cents")
    )
    dd = v.select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    c = dd.groupBy("digit").agg(F.count("*").alias("n_obs"))
    tot = dd.agg(F.count("*").alias("n"))
    grid = (
        spark.range(1, 10)
        .select(F.col("id").cast("int").alias("digit"))
        .join(F.broadcast(c), "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
            .alias("n_obs"),
        )
    )
    expc = None
    for d, p in _BENFORD_P.items():
        expc = (
            F.when(F.col("digit") == d, F.lit(p))
            if expc is None
            else expc.when(F.col("digit") == d, F.lit(p))
        )
    obs_share = F.col("n_obs").cast("double") / F.col("n").cast("double")
    diff = F.col("n_obs").cast("double") - F.col("n").cast("double") * expc
    return grid.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(obs_share, 6).alias("obs_share"),
        F.round(expc, 6).alias("exp_share"),
        F.round(
            F.abs(F.round(obs_share, 6) - F.round(expc, 6)), 6
        ).alias("dev"),
        F.round(
            diff * diff / (F.col("n").cast("double") * expc), 6
        ).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# q211 — Markov next-event backtest: train a first-order transition
# model (argmax next type per previous type) on events BEFORE the
# q189 temporal cut, score top-1 prediction accuracy on transitions
# at/after it. q195 mines the transition lift table; this closes the
# loop by asking the only question that matters about that table —
# does it predict the future, evaluated leakage-safe on the same
# temporal split q189 audits. Tie-breaks are exact: the model picks
# (max count, then lexicographic min next-type) via row_number over
# the aggregated |types|^2 transition table; unseen previous types
# predict NULL and score as wrong. One user-keyed lag window over the
# fact (the q196 shape), one types^2 agg, a broadcast model join onto
# the test side; output |types| rows, integer counts until the final
# division.
# ---------------------------------------------------------------------------

@register(
    "q211_markov_backtest",
    f"""
    WITH p AS (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev,
               ts
        FROM events
    ),
    pr AS (SELECT prev, event_type AS nxt, ts FROM p
           WHERE prev IS NOT NULL),
    tr AS (SELECT prev, nxt, count(*) AS cnt FROM pr
           WHERE ts < TIMESTAMP '{_TSPLIT_CUT}' GROUP BY prev, nxt),
    mdl AS (
        SELECT prev, nxt AS pred FROM (
            SELECT prev, nxt,
                   row_number() OVER (PARTITION BY prev
                                      ORDER BY cnt DESC, nxt) AS rn
            FROM tr
        ) WHERE rn = 1
    ),
    sc AS (
        SELECT te.prev, te.nxt, m.pred
        FROM (SELECT prev, nxt FROM pr
              WHERE ts >= TIMESTAMP '{_TSPLIT_CUT}') te
        LEFT JOIN mdl m ON m.prev = te.prev
    )
    SELECT prev AS from_type,
           any_value(pred) AS predicted,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           round(CAST(sum(CASE WHEN nxt = pred THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
               AS accuracy
    FROM sc
    GROUP BY prev
    """,
)
def q211_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev"),
        "ts",
    )
    pr = p.filter(F.col("prev").isNotNull()).select(
        "prev", F.col("event_type").alias("nxt"), "ts"
    )
    cut = F.lit(_TSPLIT_CUT).cast("timestamp")
    tr = (
        pr.filter(F.col("ts") < cut)
        .groupBy("prev", "nxt")
        .agg(F.count("*").alias("cnt"))
    )
    rn = F.row_number().over(
        W.partitionBy("prev").orderBy(F.col("cnt").desc(), "nxt")
    )
    mdl = (
        tr.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("pred"))
    )
    te = pr.filter(F.col("ts") >= cut).select("prev", "nxt")
    sc = te.join(F.broadcast(mdl), "prev", "left")
    hit = F.when(F.col("nxt") == F.col("pred"), 1).otherwise(0)
    return sc.groupBy(F.col("prev").alias("from_type")).agg(
        F.first("pred").alias("predicted"),
        F.count("*").cast("bigint").alias("n_test"),
        F.sum(hit).cast("bigint").alias("n_correct"),
        F.round(
            F.sum(hit).cast("double") / F.count("*").cast("double"), 6
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# q217 — Kaplan-Meier survival curves for user churn, per event-type
# cohort: lifetime = days between a user's first and last activity in
# that type; a user is a churn EVENT if their last activity predates
# the censor window (last CENSOR_DAYS of the observed range), else
# right-CENSORED (still in risk sets, never a death — the textbook KM
# treatment, and the difference from a naive histogram). S(t) =
# prod_{s<=t}(1 - d_s/n_s) computed as exp of the cumulative ln-sum
# over the ORDERED death times (window order fixes the float-addition
# order, so both engines sum identical doubles identically). Risk
# sets come from a cumulative-from-above window over the per-type
# lifetime histogram — every window here runs over aggregated
# type x lifetime tables (bounded), partitioned by event_type (never
# single-partition). Output: one row per (type, death time).
# ---------------------------------------------------------------------------

_KM_CENSOR_DAYS = 4


@register(
    "q217_kaplan_meier",
    f"""
    WITH e AS (
        SELECT event_type, user_id, CAST(ts AS DATE) AS d FROM events
    ),
    mx AS (SELECT max(d) AS dmax FROM e),
    u AS (
        SELECT event_type, user_id,
               CAST(date_diff('day', min(d), max(d)) AS BIGINT) AS lt,
               max(d) AS last_d
        FROM e GROUP BY event_type, user_id
    ),
    lab AS (
        SELECT event_type, lt,
               CASE WHEN date_diff('day', last_d, mx.dmax)
                         >= {_KM_CENSOR_DAYS} THEN 1 ELSE 0 END AS died
        FROM u CROSS JOIN mx
    ),
    h AS (
        SELECT event_type, lt,
               CAST(count(*) AS BIGINT) AS n_at,
               CAST(sum(died) AS BIGINT) AS d_at
        FROM lab GROUP BY event_type, lt
    ),
    r AS (
        SELECT event_type, lt, d_at,
               CAST(sum(n_at) OVER (PARTITION BY event_type ORDER BY lt
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS n_risk
        FROM h
    ),
    s AS (
        SELECT event_type, lt, d_at, n_risk,
               sum(ln(1.0 - CAST(d_at AS DOUBLE)
                          / CAST(n_risk AS DOUBLE)))
                   OVER (PARTITION BY event_type ORDER BY lt) AS lns
        FROM r WHERE d_at > 0 AND d_at < n_risk
    )
    SELECT event_type, CAST(lt AS BIGINT) AS t_days,
           n_risk, d_at AS n_events,
           round(exp(lns), 6) AS survival
    FROM s
    """,
)
def q217_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", "user_id", F.col("ts").cast("date").alias("d")
    )
    mx = e.agg(F.max("d").alias("dmax"))
    u = e.groupBy("event_type", "user_id").agg(
        F.datediff(F.max("d"), F.min("d")).cast("bigint").alias("lt"),
        F.max("d").alias("last_d"),
    )
    lab = u.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "lt",
        F.when(
            F.datediff(F.col("dmax"), F.col("last_d")) >= _KM_CENSOR_DAYS, 1
        )
        .otherwise(0)
        .alias("died"),
    )
    h = lab.groupBy("event_type", "lt").agg(
        F.count("*").cast("bigint").alias("n_at"),
        F.sum("died").cast("bigint").alias("d_at"),
    )
    w_up = (
        W.partitionBy("event_type")
        .orderBy("lt")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    r = h.select(
        "event_type",
        "lt",
        "d_at",
        F.sum("n_at").over(w_up).cast("bigint").alias("n_risk"),
    )
    w_cum = W.partitionBy("event_type").orderBy("lt")
    s = r.filter(
        (F.col("d_at") > 0) & (F.col("d_at") < F.col("n_risk"))
    ).withColumn(
        "lns",
        F.sum(
            F.log(
                F.lit(1.0)
                - F.col("d_at").cast("double")
                / F.col("n_risk").cast("double")
            )
        ).over(w_cum),
    )
    return s.select(
        "event_type",
        F.col("lt").alias("t_days"),
        "n_risk",
        F.col("d_at").alias("n_events"),
        F.round(F.exp(F.col("lns")), 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# q218 — Theil-Sen robust trend per event type: the median of all
# pairwise day-slopes over the zero-filled daily grid, next to q206's
# OLS (one bot spike drags OLS; the pairwise median shrugs). The
# pair set is bounded by construction — observed days only, so
# D*(D-1)/2 pairs per type regardless of fact size; slopes are exact
# integer-difference ratios evaluated identically in both engines,
# and the median picks physical middle elements via row_number (no
# engine-specific percentile interpolation). Windows run per type
# over the aggregated pair table.
# ---------------------------------------------------------------------------

@register(
    "q218_theil_sen",
    """
    WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
    m AS (SELECT min(d) AS d0 FROM e),
    days AS (SELECT DISTINCT d FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    daily AS (SELECT event_type, d, count(*) AS y
              FROM e GROUP BY event_type, d),
    grid AS (
        SELECT t.event_type,
               CAST(date_diff('day', m.d0, dy.d) AS BIGINT) AS x,
               CAST(coalesce(dl.y, 0) AS BIGINT) AS y
        FROM types t CROSS JOIN days dy CROSS JOIN m
        LEFT JOIN daily dl
               ON dl.event_type = t.event_type AND dl.d = dy.d
    ),
    pairs AS (
        SELECT a.event_type,
               CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
                   AS slope
        FROM grid a JOIN grid b
          ON b.event_type = a.event_type AND b.x > a.x
    ),
    rk AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope) AS rn,
               count(*) OVER (PARTITION BY event_type) AS np
        FROM pairs
    )
    SELECT event_type,
           CAST(any_value(np) AS BIGINT) AS n_pairs,
           round(avg(slope), 6) AS ts_slope
    FROM rk
    WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
    GROUP BY event_type
    """,
)
def q218_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", F.col("ts").cast("date").alias("d"))
    # r13 (guide §1.2 "don't compute things you throw away" / §2.4):
    # m, days and types are derivable from the tiny `daily` aggregate —
    # every e-row lands in some (event_type, d) group — so the corpus
    # scans behind the three broadcast sides collapse into daily's one
    # aggregation (4 events scans -> 1; same rows, same integers). The
    # barrier is also the optimizer barrier that keeps it one pass:
    # without it Catalyst collapses distinct-over-groupBy-keys back
    # into distinct-over-e and re-derives each side from the corpus.
    daily = (
        e.groupBy("event_type", "d")
        .agg(F.count("*").alias("y"))
        .transform(barrier)  # types x days rows
    )
    m = daily.agg(F.min("d").alias("d0"))
    days = daily.select("d").distinct()
    types = daily.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .crossJoin(F.broadcast(m))
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            F.datediff(F.col("d"), F.col("d0")).cast("bigint").alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y"),
        )
    )
    a = grid.select(
        "event_type", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = grid.select(
        "event_type", F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("xb") > F.col("xa"))
        .select(
            "event_type",
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope"),
        )
    )
    wp = W.partitionBy("event_type")
    rk = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wp.orderBy("slope")).alias("rn"),
        F.count("*").over(wp).alias("np"),
    )
    lo = F.floor((F.col("np") + 1) / 2)
    hi = F.floor((F.col("np") + 2) / 2)
    mid = rk.filter((F.col("rn") == lo) | (F.col("rn") == hi))
    return mid.groupBy("event_type").agg(
        F.first("np").cast("bigint").alias("n_pairs"),
        F.round(F.avg("slope"), 6).alias("ts_slope"),
    )


# ---------------------------------------------------------------------------
# q219 — daily-volume Pearson correlation matrix across event types:
# every type pair's correlation of events-per-day over the shared
# zero-filled day grid (q105 ranks ONE pair; this is the full matrix
# the capacity planner reads for coupled workloads). The self-join is
# keyed on the day — |days| x |types|^2 rows, bounded by the
# calendar, not the fact. All five moments are exact integer sums;
# r's numerator/denominator are assembled from them with identical
# association in both engines, one sqrt at the end (q196 discipline:
# nothing rounded is a derived difference of raw doubles).
# ---------------------------------------------------------------------------

@register(
    "q219_type_corr_matrix",
    """
    WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d FROM events),
    days AS (SELECT DISTINCT d FROM e),
    types AS (SELECT DISTINCT event_type FROM e),
    daily AS (SELECT event_type, d, count(*) AS y
              FROM e GROUP BY event_type, d),
    grid AS (
        SELECT t.event_type, dy.d,
               CAST(coalesce(dl.y, 0) AS BIGINT) AS y
        FROM types t CROSS JOIN days dy
        LEFT JOIN daily dl
               ON dl.event_type = t.event_type AND dl.d = dy.d
    ),
    p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a.y) AS BIGINT) AS sx,
               CAST(sum(b.y) AS BIGINT) AS sy,
               CAST(sum(a.y * b.y) AS BIGINT) AS sxy,
               CAST(sum(a.y * a.y) AS BIGINT) AS sxx,
               CAST(sum(b.y * b.y) AS BIGINT) AS syy
        FROM grid a JOIN grid b
          ON b.d = a.d AND b.event_type > a.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n AS n_days,
           CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                THEN NULL
                ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS pearson_r
    FROM p
    """,
)
def q219_type_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", F.col("ts").cast("date").alias("d"))
    # r13: days/types derive from the tiny daily aggregate; the
    # barrier keeps it one pass (see q209)
    daily = (
        e.groupBy("event_type", "d")
        .agg(F.count("*").alias("y"))
        .transform(barrier)  # types x days rows
    )
    days = daily.select("d").distinct()
    types = daily.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            F.coalesce(F.col("y"), F.lit(0)).cast("bigint").alias("y"),
        )
    )
    a = grid.select(
        F.col("event_type").alias("type_a"), "d", F.col("y").alias("ya")
    )
    b = grid.select(
        F.col("event_type").alias("type_b"), "d", F.col("y").alias("yb")
    )
    p = (
        a.join(b, "d")
        .filter(F.col("type_b") > F.col("type_a"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("ya").cast("bigint").alias("sx"),
            F.sum("yb").cast("bigint").alias("sy"),
            F.sum(F.col("ya") * F.col("yb")).cast("bigint").alias("sxy"),
            F.sum(F.col("ya") * F.col("ya")).cast("bigint").alias("sxx"),
            F.sum(F.col("yb") * F.col("yb")).cast("bigint").alias("syy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return p.select(
        "type_a",
        "type_b",
        F.col("n").alias("n_days"),
        F.when((d1 == 0) | (d2 == 0), F.lit(None)).otherwise(
            F.round(
                num / F.sqrt(d1.cast("double") * d2.cast("double")), 6
            )
        ).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# q221 — ε-DP noisy count release (Laplace mechanism): the third leg of
# the privacy family (q146 k-anonymity says which groups are too small
# to release raw; q208 t-closeness says which leak their sensitive
# distribution; this RELEASES the histogram safely). Per-(source, lang)
# document counts get Laplace(b = Δf/ε) noise with sensitivity Δf = 1
# (one document moves one cell) and ε = _DP_EPS; the cells partition
# the corpus, so the whole release costs ε under parallel composition.
# The noise is DETERMINISTIC across engines: a hash60-seeded uniform
# u ∈ (-1/2, 1/2) (never exactly 0 — the +0.5 offset keeps it off the
# lattice) through the Laplace inverse CDF, -b·sign(u)·ln(1-2|u|) —
# the standard sampler, with the RNG replaced by the cross-engine hash
# so the oracle can verify it. The audit view keeps the true count
# beside the noisy one (a production release would drop it).
# Scale: one source×lang-sized agg; everything after is row-local.
# ---------------------------------------------------------------------------

_DP_EPS = 0.25
_DP_B = 1.0 / _DP_EPS


@register(
    "q221_dp_noisy_counts",
    f"""
    WITH g AS (
        SELECT source, lang, count(*) AS n_docs
        FROM documents
        GROUP BY source, lang
    ),
    u AS (
        SELECT source, lang, n_docs,
               (CAST({hash60_sql("source || '|' || lang")} % 999999
                     AS DOUBLE) + 0.5) / 1000000.0 - 0.5 AS uu
        FROM g
    ),
    nz AS (
        SELECT source, lang, n_docs,
               -{_DP_B} * sign(uu) * ln(1.0 - 2.0 * abs(uu)) AS noise
        FROM u
    )
    SELECT source, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           round(n_docs + noise, 4) AS noisy_count,
           round(abs(noise), 4) AS noise_abs,
           CAST({_DP_B} AS DOUBLE) AS scale_b,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon
    FROM nz
    """,
)
def q221_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(F.count("*").alias("n_docs"))
    uu = (
        (hash60(F.concat_ws("|", F.col("source"), F.col("lang"))) % 999999)
        .cast("double")
        + 0.5
    ) / 1000000.0 - 0.5
    u = g.select("source", "lang", "n_docs", uu.alias("uu"))
    noise = (
        F.lit(-_DP_B)
        * F.signum(F.col("uu"))
        * F.log(F.lit(1.0) - 2.0 * F.abs(F.col("uu")))
    )
    return u.select(
        "source",
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("n_docs") + noise, 4).alias("noisy_count"),
        F.round(F.abs(noise), 4).alias("noise_abs"),
        F.lit(_DP_B).cast("double").alias("scale_b"),
        F.lit(_DP_EPS).cast("double").alias("epsilon"),
    )


# ---------------------------------------------------------------------------
# q225 — USER-level DP histogram release with contribution bounding:
# q221 releases counts under event-level adjacency (one record moves);
# real deployments protect USERS, whose whole event history can move.
# The standard recipe (Google/LinkedIn DP library shape): bound each
# user to at most _DPU_L partitions (their top-L event types by count,
# count-desc/type-asc tie-break — deterministic) and at most _DPU_C
# events inside each kept partition, so the release's L1 sensitivity
# to removing one user is C·L; per-type Laplace noise at scale
# b = C·L/ε then gives ε user-level DP for the whole histogram. The
# audit view reports what the bounding cost (events clipped away)
# beside the released value — the utility/privacy readout a data team
# tunes C and L with. Noise is the q221 hash-seeded inverse-CDF.
# Scale: one (user, type) agg, one user-keyed top-L window over that
# bounded table, one type-sized agg; noise is row-local.
# ---------------------------------------------------------------------------

_DPU_C = 8
_DPU_L = 3
_DPU_EPS = 0.5
_DPU_B = _DPU_C * _DPU_L / _DPU_EPS


@register(
    "q225_dp_user_histogram",
    f"""
    WITH ut AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_ut
        FROM events GROUP BY user_id, event_type
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY n_ut DESC, event_type) AS rk
        FROM ut
    ),
    kept AS (
        SELECT event_type,
               least(n_ut, {_DPU_C}) AS contrib,
               n_ut
        FROM ranked WHERE rk <= {_DPU_L}
    ),
    agg AS (
        SELECT t.event_type,
               CAST(t.n_raw AS BIGINT) AS n_raw,
               CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
        FROM (SELECT event_type, sum(n_ut) AS n_raw
              FROM ut GROUP BY event_type) t
        LEFT JOIN (SELECT event_type, sum(contrib) AS n_kept
                   FROM kept GROUP BY event_type) k
               ON k.event_type = t.event_type
    ),
    nz AS (
        SELECT event_type, n_raw, n_kept,
               (CAST({hash60_sql("event_type")} % 999999 AS DOUBLE) + 0.5)
                   / 1000000.0 - 0.5 AS uu
        FROM agg
    )
    SELECT event_type,
           n_raw,
           CAST(n_raw - n_kept AS BIGINT) AS n_clipped_away,
           round(n_kept + (-{_DPU_B} * sign(uu) * ln(1.0 - 2.0 * abs(uu))),
                 4) AS released,
           CAST({_DPU_B} AS DOUBLE) AS scale_b,
           CAST({_DPU_EPS} AS DOUBLE) AS epsilon
    FROM nz
    """,
)
def q225_dp_user_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("n_ut")
    )
    ranked = ut.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(
                F.desc("n_ut"), F.asc("event_type")
            )
        ),
    )
    kept = ranked.filter(F.col("rk") <= _DPU_L).select(
        "event_type", F.least(F.col("n_ut"), F.lit(_DPU_C)).alias("contrib")
    )
    raw_t = ut.groupBy("event_type").agg(
        F.sum("n_ut").cast("bigint").alias("n_raw")
    )
    kept_t = kept.groupBy("event_type").agg(
        F.sum("contrib").alias("n_kept")
    )
    agg = raw_t.join(kept_t, "event_type", "left").select(
        "event_type",
        "n_raw",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )
    uu = (
        (hash60(F.col("event_type")) % 999999).cast("double") + 0.5
    ) / 1000000.0 - 0.5
    nz = agg.withColumn("uu", uu)
    noise = (
        F.lit(-_DPU_B)
        * F.signum(F.col("uu"))
        * F.log(F.lit(1.0) - 2.0 * F.abs(F.col("uu")))
    )
    return nz.select(
        "event_type",
        "n_raw",
        (F.col("n_raw") - F.col("n_kept")).cast("bigint").alias(
            "n_clipped_away"
        ),
        F.round(F.col("n_kept") + noise, 4).alias("released"),
        F.lit(_DPU_B).cast("double").alias("scale_b"),
        F.lit(_DPU_EPS).cast("double").alias("epsilon"),
    )
