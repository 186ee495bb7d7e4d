"""Embedding storage/serving economics operators (net-new; extends the
ANN/PQ family in ``operators/similarity.py`` with the audits a
100 TB embedding store runs before sealing a layout):

- semantic eval-contamination screen: max-cosine of every train vector
  against a broadcast held-out probe set (the embedding-space sibling
  of the lexical q119 screen — a paraphrased eval answer shares no
  3-grams but sits next to its source in embedding space)
- int8 affine quantization audit: per-dimension (min,max) -> scale,
  round-trip reconstruction error; the go/no-go before swapping a
  float32 store for a 4x-smaller int8 one
- Matryoshka truncated-dimension recall: recall@k when queries are
  served from a prefix of the embedding (8/16/32 of 64 dims) vs the
  full-dimension exact top-k — the dim-budget tuning curve for
  MRL-style embeddings

Reference parity note: the reference engine (jarretjeter/
whale-sightings) has no embedding surface; these extend the
training-data-pipeline mandate, reusing the cosine/window conventions
of ``operators/similarity.py`` (deterministic (score DESC, id)
tie-breaks, caps mirrored in the DuckDB oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.operators.similarity import (
    _dot,
    _norm,
    cosine,
    cosine_sql,
)
from whale_sightings_spark.session import barrier

# ---------------------------------------------------------------------------
# semantic eval-contamination screen
# ---------------------------------------------------------------------------

#: every 50th vector stands in for the held-out eval/benchmark set —
#: deterministic, and scale-independent (the probe set is |corpus|/50
#: here, but in production it is a fixed small benchmark; either way it
#: is the BROADCAST side)
PROBE_MOD = 50
PROBE_REM = 7
#: max-cosine at or above this flags the train vector as semantically
#: contaminated (p99 of the probe-vs-corpus cosine at sf0.01 is ~0.29;
#: 0.35 flags the genuine near-neighbor tail, ~3%)
SEM_CONTAM_T = 0.35


def semantic_contamination_audit(embeddings: DataFrame) -> DataFrame:
    """Per-label contamination report: for every train vector (not in
    the probe set), the max cosine against the broadcast probe set;
    aggregated per label cell.

    Scale shape: probes broadcast (eval sets are benchmark-sized); ONE
    corpus scan scores |corpus| x |probes| row-locally; the per-vector
    max is a partial-aggregated keyed agg on vec_id and the final
    report is label-cardinality-sized. No corpus-side shuffle beyond
    the two partial aggs. At 100 TB with a 10k-vector eval set this is
    the embedding twin of the q119 lexical contamination screen.
    """
    probes = embeddings.filter(
        F.col("vec_id") % PROBE_MOD == PROBE_REM
    ).select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pvec"))
    train = embeddings.filter(F.col("vec_id") % PROBE_MOD != PROBE_REM).select(
        "vec_id", "label", "embedding"
    )
    scored = train.join(F.broadcast(probes)).select(
        "vec_id",
        "label",
        F.round(cosine(F.col("embedding"), F.col("pvec")), 6).alias("cos"),
    )
    per_vec = scored.groupBy("vec_id", "label").agg(
        F.max("cos").alias("max_cos")
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").alias("n_train"),
            F.sum((F.col("max_cos") >= SEM_CONTAM_T).cast("long")).alias(
                "n_contaminated"
            ),
            F.round(F.avg("max_cos"), 6).alias("avg_max_cos"),
            F.round(F.max("max_cos"), 6).alias("peak_cos"),
        )
        .select("label", "n_train", "n_contaminated", "avg_max_cos", "peak_cos")
    )


def semantic_contamination_sql() -> str:
    cos = cosine_sql("t.embedding", "p.pvec")
    return f"""
    WITH p AS (
        SELECT vec_id AS probe_id, embedding AS pvec
        FROM embeddings WHERE vec_id % {PROBE_MOD} = {PROBE_REM}
    ),
    t AS (
        SELECT vec_id, label, embedding
        FROM embeddings WHERE vec_id % {PROBE_MOD} <> {PROBE_REM}
    ),
    pv AS (
        SELECT t.vec_id, t.label, max(round({cos}, 6)) AS max_cos
        FROM t CROSS JOIN p
        GROUP BY t.vec_id, t.label
    )
    SELECT label,
           count(*) AS n_train,
           CAST(count(*) FILTER (max_cos >= {SEM_CONTAM_T}) AS BIGINT)
               AS n_contaminated,
           round(avg(max_cos), 6) AS avg_max_cos,
           round(max(max_cos), 6) AS peak_cos
    FROM pv
    GROUP BY label
    """


# ---------------------------------------------------------------------------
# int8 affine quantization audit
# ---------------------------------------------------------------------------

#: int8 code range (unsigned convention; 256 levels)
INT8_LEVELS = 255
#: constant-dimension guard: a dim with hi == lo quantizes to code 0
#: with zero error; floor the scale so the division never yields inf
SCALE_FLOOR = 1e-12


def int8_quantization_audit(embeddings: DataFrame) -> DataFrame:
    """Per-dimension int8 affine round-trip report: (lo, hi) bounds,
    scale = (hi-lo)/255, RMSE and max |error| of encode->decode.

    Scale shape: two corpus passes. Pass 1 posexplodes to (dim, val)
    and partial-aggregates min/max per dim — the shuffle is
    EMBEDDING_DIM rows per map partition. Pass 2 re-derives the error
    per element against the broadcast 64-row bounds table and partial-
    aggregates the moments the same way. Nothing row-scale ever
    shuffles; the d-times element inflation is the intrinsic cost of a
    per-dimension audit and stays inside one codegen stage.
    """
    d = embeddings.select(
        F.posexplode("embedding").alias("pos", "fval")
    ).select("pos", F.col("fval").cast("double").alias("val"))
    bounds = d.groupBy("pos").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    scale = F.greatest(
        (F.col("hi") - F.col("lo")) / INT8_LEVELS, F.lit(SCALE_FLOOR)
    )
    b = bounds.withColumn("scale", scale)
    e = d.join(F.broadcast(b), "pos")
    code = F.least(
        F.greatest(F.round((F.col("val") - F.col("lo")) / F.col("scale"), 0), F.lit(0.0)),
        F.lit(float(INT8_LEVELS)),
    )
    err = F.col("val") - (F.col("lo") + code * F.col("scale"))
    return (
        e.withColumn("err", err)
        .groupBy("pos", "lo", "hi", "scale")
        .agg(
            F.round(F.sqrt(F.avg(F.col("err") * F.col("err"))), 6).alias("rmse"),
            F.round(F.max(F.abs("err")), 6).alias("max_abs_err"),
        )
        .select(
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
            F.round("scale", 9).alias("scale"),
            "rmse",
            "max_abs_err",
        )
    )


def int8_quantization_sql() -> str:
    return f"""
    WITH d AS (
        SELECT i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) i
    ),
    b AS (
        SELECT dim, min(val) AS lo, max(val) AS hi,
               greatest((max(val) - min(val)) / {INT8_LEVELS}, {SCALE_FLOOR})
                   AS scale
        FROM d GROUP BY dim
    ),
    e AS (
        SELECT d.dim, b.lo, b.hi, b.scale,
               d.val - (b.lo + least(greatest(round((d.val - b.lo) / b.scale),
                                              0), {INT8_LEVELS}) * b.scale)
                   AS err
        FROM d JOIN b USING (dim)
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           round(lo, 6) AS lo,
           round(hi, 6) AS hi,
           round(scale, 9) AS scale,
           round(sqrt(avg(err * err)), 6) AS rmse,
           round(max(abs(err)), 6) AS max_abs_err
    FROM e
    GROUP BY dim, lo, hi, scale
    """


# ---------------------------------------------------------------------------
# Matryoshka truncated-dimension recall
# ---------------------------------------------------------------------------

#: served prefix widths to audit (full dim = 64 is the ground truth)
TRUNC_DIMS = (8, 16, 32)
TRUNC_QUERIES = 5
TRUNC_K = 5


def truncated_dim_recall(embeddings: DataFrame) -> DataFrame:
    """recall@k per (trunc_dim, query): top-k by cosine over the first
    ``trunc_dim`` components vs the full-dimension exact top-k.

    Scale shape: the query set (TRUNC_QUERIES vectors) broadcasts; ONE
    corpus scan computes all four cosines (full + each prefix width)
    per pair, explodes to (width, cos) and ranks with a single
    WindowGroupLimit window partitioned by (width, query). The slice
    is applied BEFORE the dot product so a production run reading a
    dim-pruned column scans less, not more. The tiny per-width top-k
    table (|widths| x |queries| x k rows) sits behind a barrier so the
    exact/approx self-join replays a local table, not the corpus scan.
    Output is
    |TRUNC_DIMS| x |queries| rows.
    """
    q = embeddings.filter(F.col("vec_id") < TRUNC_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    # width 0 = the full-dimension exact ranking (the ground truth)
    branches = [
        F.struct(
            F.lit(0).alias("w"),
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"),
        )
    ] + [
        F.struct(
            F.lit(td).alias("w"),
            F.round(
                cosine(
                    F.slice(F.col("qvec"), 1, td),
                    F.slice(F.col("cvec"), 1, td),
                ),
                6,
            ).alias("cos"),
        )
        for td in TRUNC_DIMS
    ]
    scored = pairs.select(
        "query_id", "neighbor_id", F.explode(F.array(*branches)).alias("e")
    ).select("query_id", "neighbor_id", F.col("e.w").alias("w"), F.col("e.cos").alias("cos"))
    w = W.partitionBy("w", "query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TRUNC_K)
        .select("w", "query_id", "neighbor_id")
        .transform(barrier)
    )
    exact = topk.filter(F.col("w") == 0).withColumn(
        "trunc_dim",
        F.explode(F.array(*[F.lit(td) for td in TRUNC_DIMS])),
    ).select("trunc_dim", "query_id", "neighbor_id")
    approx = topk.filter(F.col("w") != 0).select(
        F.col("w").alias("trunc_dim"),
        "query_id",
        "neighbor_id",
        F.lit(1).alias("hit"),
    )
    return (
        exact.join(approx, ["trunc_dim", "query_id", "neighbor_id"], "left")
        .groupBy("trunc_dim", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit")
        )
        .select(
            F.col("trunc_dim").cast("long").alias("trunc_dim"),
            "query_id",
            "n_hit",
            F.round(F.col("n_hit") / F.lit(float(TRUNC_K)), 6).alias("recall"),
        )
    )


def truncated_dim_recall_sql() -> str:
    full = cosine_sql("q.qvec", "c.embedding")
    branches = []
    for td in TRUNC_DIMS:
        tcos = cosine_sql(f"q.qvec[1:{td}]", f"c.embedding[1:{td}]")
        branches.append(
            f"""
    SELECT CAST({td} AS BIGINT) AS trunc_dim, e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / {TRUNC_K}, 6)
               AS recall
    FROM exact e
    LEFT JOIN (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({tcos}, 6) DESC, c.vec_id
                   ) AS rank
            FROM embeddings c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= {TRUNC_K}
    ) a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id"""
        )
    union = "\n    UNION ALL\n".join(branches)
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < {TRUNC_QUERIES}
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({full}, 6) DESC, c.vec_id
                   ) AS rank
            FROM embeddings c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= {TRUNC_K}
    )
    {union}
    """


# ---------------------------------------------------------------------------
# PCA top component via fixed-round power iteration
# ---------------------------------------------------------------------------

#: fixed power-iteration rounds (deterministic + SQL-unrollable, the
#: q112 fixed-k convention); intermediate vectors round to 12 decimals
#: each round so Spark-driver math and the DuckDB-unrolled oracle
#: cannot drift apart
PCA_ROUNDS = 8
PCA_VEC_DP = 12
#: covariance entries round to 9 decimals before iterating — the sum
#: order inside each engine differs at ~1e-13, far under the grid
PCA_COV_DP = 9


def pca_top_component(embeddings: DataFrame) -> DataFrame:
    """Top principal component of the embedding cloud: one covariance
    pass + PCA_ROUNDS power-iteration steps on the collected d x d
    matrix (d = 64 -> 4096 doubles, scalar-scale driver math like the
    q159 percentile-boundary collect).

    Scale shape: the ONLY corpus-scale work is the covariance pass —
    a d^2-per-row explode that partial-aggregates to (i, j) cells, so
    the shuffle is 4096 rows per map partition regardless of corpus
    size. Everything after (iteration, eigenvalue, variance share) is
    driver-side over the d x d collect. At 100 TB this is how you fit
    the whitening/PCA transform a dimensionality-reduction or
    embedding-drift stage needs without ever centralizing vectors.
    Output: per-dim loading of the unit top component, the Rayleigh
    eigenvalue, and its share of total variance (trace).
    """
    import numpy as np

    d1 = embeddings.select("embedding", F.posexplode("embedding").alias("i", "xi"))
    d2 = d1.select(
        "i",
        F.col("xi").cast("double").alias("xi"),
        F.posexplode("embedding").alias("j", "xj"),
    ).select("i", "xi", "j", F.col("xj").cast("double").alias("xj"))
    stats = d2.groupBy("i", "j").agg(
        F.sum(F.col("xi") * F.col("xj")).alias("s"), F.count("*").alias("n")
    )
    mu = (
        embeddings.select(F.posexplode("embedding").alias("i", "xi"))
        .groupBy("i")
        .agg(F.round(F.avg(F.col("xi").cast("double")), PCA_COV_DP).alias("mu"))
    )
    rows = (
        stats.join(mu.select(F.col("i"), F.col("mu").alias("mu_i")), "i")
        .join(
            mu.select(F.col("i").alias("j"), F.col("mu").alias("mu_j")), "j"
        )
        .select(
            "i",
            "j",
            F.round(
                F.col("s") / F.col("n") - F.col("mu_i") * F.col("mu_j"),
                PCA_COV_DP,
            ).alias("c"),
        )
        .collect()
    )
    d = max(r.i for r in rows) + 1
    C = np.zeros((d, d))
    for r in rows:
        C[r.i, r.j] = r.c
    v = np.round(np.full(d, 1.0 / float(np.sqrt(d))), PCA_VEC_DP)
    for _ in range(PCA_ROUNDS):
        # mirror the oracle's per-dim sum: plain dot is fine — the
        # 12-dp round each step absorbs any sum-order difference
        w = C @ v
        v = np.round(w / float(np.sqrt((w * w).sum())), PCA_VEC_DP)
    eig = float(v @ C @ v)
    trace = float(np.trace(C))
    spark = embeddings.sparkSession
    out = [
        (int(i) + 1, float(v[i]), round(eig, 6), round(eig / trace, 6))
        for i in range(d)
    ]
    return spark.createDataFrame(
        out, "dim long, loading double, eigval double, var_share double"
    ).select("dim", F.round("loading", 6).alias("loading"), "eigval", "var_share")


def pca_top_component_sql(dim: int = 64) -> str:
    """DuckDB twin: identical covariance grid, identical unrolled
    rounds with the same 12-dp per-round rounding."""
    ctes = f"""
    d2 AS (
        SELECT i.i AS i, CAST(embedding[i.i] AS DOUBLE) AS xi,
               j.j AS j, CAST(embedding[j.j] AS DOUBLE) AS xj
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i,
             LATERAL (SELECT unnest(generate_series(1, {dim})) AS j) j
    ),
    mu AS (
        SELECT i.i AS i,
               round(avg(CAST(embedding[i.i] AS DOUBLE)), {PCA_COV_DP}) AS mu
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, {dim})) AS i) i
        GROUP BY i.i
    ),
    cov AS MATERIALIZED (
        SELECT d2.i, d2.j,
               round(sum(xi * xj) / count(*)
                     - any_value(mi.mu) * any_value(mj.mu), {PCA_COV_DP}) AS c
        FROM d2
        JOIN mu mi ON mi.i = d2.i
        JOIN mu mj ON mj.i = d2.j
        GROUP BY d2.i, d2.j
    ),
    r0 AS (
        SELECT i AS dim, round(1.0 / sqrt({dim}.0), {PCA_VEC_DP}) AS v
        FROM mu
    )"""
    for k in range(1, PCA_ROUNDS + 1):
        ctes += f""",
    m{k} AS MATERIALIZED (
        SELECT cov.i AS dim, sum(cov.c * r.v) AS w
        FROM cov JOIN r{k-1} r ON r.dim = cov.j
        GROUP BY cov.i
    ),
    n{k} AS (SELECT sqrt(sum(w * w)) AS nrm FROM m{k}),
    r{k} AS MATERIALIZED (
        SELECT dim, round(w / nrm, {PCA_VEC_DP}) AS v
        FROM m{k} CROSS JOIN n{k}
    )"""
    last = f"r{PCA_ROUNDS}"
    return f"""
    WITH {ctes},
    eig AS (
        SELECT round(sum(a.v * cov.c * b.v), 6) AS eigval
        FROM cov
        JOIN {last} a ON a.dim = cov.i
        JOIN {last} b ON b.dim = cov.j
    ),
    tr AS (SELECT sum(c) AS trace FROM cov WHERE i = j)
    SELECT CAST(r.dim AS BIGINT) AS dim,
           round(r.v, 6) AS loading,
           eig.eigval AS eigval,
           round(eig.eigval / tr.trace, 6) AS var_share
    FROM {last} r CROSS JOIN eig CROSS JOIN tr
    """


# ---------------------------------------------------------------------------
# int8-quantized serving recall
# ---------------------------------------------------------------------------

INT8_QUERIES = 5
INT8_K = 5


def int8_serving_recall(embeddings: DataFrame) -> DataFrame:
    """recall@k when the CORPUS side is served from int8 codes
    (decode = lo + code*scale per dim) while queries stay float — the
    asymmetric-distance convention. q182 prices the int8 swap in
    reconstruction error; this prices it in the metric that matters,
    retrieval recall vs the float exact top-k.

    Scale shape: the per-dim bounds are the q182 partial agg collapsed
    to ONE broadcast row of dim-indexed arrays; decode and the
    query-corpus cosines are then fully ROW-LOCAL over the embedding
    arrays (r12, guide §2.4: the former dim-keyed score join shuffled a
    corpus x queries aggregation and rebuilt two derived broadcasts —
    all of it replaced by one map-only pass). Every sum (dot, both
    norms) runs in ascending-dim order; the former shuffled partial
    aggs carried no guaranteed addition order, so the invariant this
    preserves (and the one the oracle tests pin) is equality after the
    6dp rounding, not bit-identity (ADVICE r12). Top-k stays the
    WindowGroupLimit harness every recall audit here shares.
    """
    d = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("pos", "fval")
    ).select("vec_id", "pos", F.col("fval").cast("double").alias("val"))
    bounds = d.groupBy("pos").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    brow = bounds.agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "lo", "hi"))
        ).alias("bnd")
    ).select(
        F.transform("bnd", lambda s: s["lo"]).alias("los"),
        F.transform(
            "bnd",
            lambda s: F.greatest(
                (s["hi"] - s["lo"]) / INT8_LEVELS, F.lit(SCALE_FLOOR)
            ),
        ).alias("scales"),
    )

    def _decode(x, i):
        lo = F.element_at(F.col("los"), i + 1)
        sc = F.element_at(F.col("scales"), i + 1)
        code = F.least(
            F.greatest(
                F.round((x.cast("double") - lo) / sc, 0), F.lit(0.0)
            ),
            F.lit(float(INT8_LEVELS)),
        )
        return lo + code * sc

    # one scoring pass carries BOTH the raw vector and its int8
    # round-trip, so the exact and approx cosines come out of the same
    # corpus scan (formerly two scans: a decode-score pass and a
    # float-exact pass). Per-vector norms precomputed BEFORE the pair
    # join (one array aggregate per vector instead of two per pair);
    # expression and multiplication order per score are kept from the
    # two-pass form so every double matches it exactly
    base = (
        embeddings.crossJoin(F.broadcast(brow))
        .select(
            "vec_id",
            F.col("embedding").alias("cvec"),
            F.transform("embedding", _decode).alias("rvec"),
        )
        .select(
            "vec_id",
            "cvec",
            "rvec",
            _norm(F.col("cvec")).alias("cnrm"),
            _norm(F.col("rvec")).alias("rnrm"),
        )
    )
    qf = embeddings.filter(F.col("vec_id") < INT8_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qnrm"),
    )
    scored = (
        base.join(F.broadcast(qf), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("xcos"),
            F.round(
                _dot(F.col("rvec"), F.col("qvec"))
                / (F.col("rnrm") * F.col("qnrm")),
                6,
            ).alias("acos"),
        )
    )
    # both rankings partition by query_id, so the second window reuses
    # the first's exchange (extra sort only); the exact-top-k filter on
    # top selects the rows whose approx-rank flag decides the hit
    xw = W.partitionBy("query_id").orderBy(F.desc("xcos"), F.asc("neighbor_id"))
    aw = W.partitionBy("query_id").orderBy(F.desc("acos"), F.asc("neighbor_id"))
    flags = scored.withColumn("arank", F.row_number().over(aw)).withColumn(
        "xrank", F.row_number().over(xw)
    )
    return (
        flags.filter(F.col("xrank") <= INT8_K)
        .groupBy("query_id")
        .agg(
            F.sum((F.col("arank") <= INT8_K).cast("long"))
            .cast("long")
            .alias("n_hit")
        )
        .select(
            "query_id",
            "n_hit",
            F.round(F.col("n_hit") / F.lit(float(INT8_K)), 6).alias("recall"),
        )
    )


def int8_serving_recall_sql() -> str:
    full = cosine_sql("q.qvec", "c.embedding")
    return f"""
    WITH d AS (
        SELECT vec_id, i.i AS pos, CAST(embedding[i.i] AS DOUBLE) AS val
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) i
    ),
    b AS (
        SELECT pos, min(val) AS lo,
               greatest((max(val) - min(val)) / {INT8_LEVELS}, {SCALE_FLOOR})
                   AS scale
        FROM d GROUP BY pos
    ),
    dec AS (
        SELECT d.vec_id, d.pos,
               b.lo + least(greatest(round((d.val - b.lo) / b.scale), 0),
                            {INT8_LEVELS}) * b.scale AS rv
        FROM d JOIN b USING (pos)
    ),
    rnorm AS (
        SELECT vec_id, sqrt(sum(rv * rv)) AS rnrm FROM dec GROUP BY vec_id
    ),
    ql AS (
        SELECT vec_id AS query_id, pos, val AS qv FROM d
        WHERE vec_id < {INT8_QUERIES}
    ),
    qnorm AS (
        SELECT query_id, sqrt(sum(qv * qv)) AS qnrm FROM ql GROUP BY query_id
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT s.query_id, s.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY s.query_id
                       ORDER BY round(s.dot / (r.rnrm * n.qnrm), 6) DESC,
                                s.vec_id
                   ) AS rank
            FROM (
                SELECT ql.query_id, dec.vec_id, sum(dec.rv * ql.qv) AS dot
                FROM dec JOIN ql USING (pos)
                WHERE dec.vec_id <> ql.query_id
                GROUP BY ql.query_id, dec.vec_id
            ) s
            JOIN rnorm r ON r.vec_id = s.vec_id
            JOIN qnorm n ON n.query_id = s.query_id
        ) WHERE rank <= {INT8_K}
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < {INT8_QUERIES}
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({full}, 6) DESC, c.vec_id
                   ) AS rank
            FROM embeddings c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= {INT8_K}
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / {INT8_K}, 6) AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """
