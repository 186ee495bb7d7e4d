"""Similarity search over embeddings (net-new scale surface).

Three tiers over ``embeddings(vec_id, embedding array<float>, label)``:

- **brute-force cosine top-k** for a bounded query set — the exactness
  baseline. Cost O(|Q| x N); the query set is broadcast, the corpus is
  scanned once, top-k via per-query window. Fine at any corpus size
  when |Q| is small.
- **IVF-style probe**: ``label`` plays the coarse-quantizer cell id
  (at 100 TB the cell id comes from a trained k-means; the operator
  shape — equi-join on cell, rank within — is identical). Corpus scan
  prunes to the probed cell before any distance math.
- **hyperplane LSH near-dup**: 16 fixed random hyperplanes -> 16-bit
  signature -> 2x8-bit banded blocking (candidate iff ANY band
  matches) -> cosine verify over candidates only. Banding trades the
  single-bucket scheme's vanishing recall for bounded extra candidates;
  the per-band hot-bucket cap kills the quadratic in-bucket risk.

Cosine is computed with native zip_with/aggregate — JVM-side, no UDF.
DuckDB twins use list_cosine_similarity / list_dot_product, with
float32 inputs cast to double on both sides and rounding to 6dp.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.session import barrier

#: fixed seed for the LSH hyperplanes — regenerating them yields
#: identical planes in the Spark op, the DuckDB oracle, and tests
LSH_SEED = 1337
LSH_PLANES = 16
#: the 16-bit signature splits into two 8-bit bands for blocking
LSH_BAND_BITS = 8
EMBEDDING_DIM = 64
#: band buckets larger than this are skipped during near-dup candidate
#: generation — same quadratic hot-bucket guard as the text dedup path
#: (operators/dedup.MAX_BAND_BUCKET), mirrored in the oracle
MAX_SIG_BUCKET = 1000
#: cosine threshold for embedding near-dup (tuned to the synthetic
#: embedding distribution: pairwise cos tops out ~0.5, so 0.2 marks the
#: distinctly-similar tail; production corpora would use ~0.9)
COSINE_DUP_THRESHOLD = 0.2


def lsh_hyperplanes() -> np.ndarray:
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((LSH_PLANES, EMBEDDING_DIM)).round(6)


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine(a, b) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin — explicit dot/norm (list_cosine_similarity uses
    float32 internally and diverges in low digits; this matches Spark's
    double math exactly)."""
    dot = f"list_sum(list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return f"({dot} / ({na} * {nb}))"


def ann_bruteforce_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors for the first ``n_queries`` vectors.

    The query set is broadcast against one corpus scan; ranking is a
    window partitioned per query (k small, heap-like TakeOrdered).
    Per-vector norms are computed once per vector BEFORE the pair join
    (r12: the per-pair cosine re-aggregated both norms for every pair);
    the qnrm * cnrm product keeps cosine()'s argument order, so every
    double is unchanged.
    """
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qnrm"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        _norm(F.col("embedding")).alias("cnrm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ann_ivf_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """IVF-style: probe only the query's own cell (label column as the
    coarse cell id). Same output shape as brute force; recall depends
    on quantizer quality — the scale path for a trained index."""
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("cell"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        F.col("label").alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qvec"), F.col("cvec")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "cos", "rank")
    )


def cell_centroids(embeddings: DataFrame) -> DataFrame:
    """(cell, centroid) — per-label mean vector via the (label, dim)
    partial-agg shape (one fact shuffle, map-side combine; the result
    is cell-cardinality-sized). Components are rounded to 6dp so the
    distributed sum order (Spark partials vs any other engine's
    accumulation) cannot leak into downstream rank comparisons."""
    ex = embeddings.select("label", F.posexplode("embedding").alias("dim", "val"))
    cent = ex.groupBy("label", "dim").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("avgv")
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "avgv"))),
            lambda s: s.avgv,
        ).alias("centroid")
    ).select(F.col("label").alias("cell"), "centroid")


def ann_multiprobe_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5, n_probe: int = 2
) -> DataFrame:
    """Multi-probe IVF: probe the ``n_probe`` cells whose centroids are
    nearest each query, not just the query's own cell — the standard
    recall knob of a production IVF index (probe more cells => recall
    approaches brute force, cost grows linearly in probed rows).

    Plan shape: centroids are one fact shuffle folded to a
    cell-cardinality table; probe selection is query-set x cells
    (both broadcast-sized); the corpus scan joins the broadcast probe
    table on cell, so only probed-cell rows reach the distance math,
    and WindowGroupLimit keeps top-k per query ahead of the final
    exchange. No stage touches more than |probed cells| worth of
    corpus."""
    cents = cell_centroids(embeddings)
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cw = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("ccos", F.round(cosine(F.col("qvec"), F.col("centroid")), 6))
        .withColumn("probe_rank", F.row_number().over(cw))
        .filter(F.col("probe_rank") <= n_probe)
        .select("query_id", "qvec", "cell")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        F.col("label").alias("cell"),
    )
    scored = (
        c.join(F.broadcast(probes), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qvec"), F.col("cvec")), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "cos", "rank")
    )


def ann_recall(embeddings: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Index-quality audit: recall@k of the IVF probe vs exact top-k.

    Joins the IVF result (one-cell probe) against the brute-force
    ground truth on (query, neighbor) and reports per-query hit count
    and recall = |IVF intersect exact| / k. At 100 TB this is the
    operator you run on a sampled query set after (re)training the
    coarse quantizer, before trusting the index for retrieval: the
    exact side is bounded by the sampled |Q| x N scan, the IVF side by
    the probed cells, and the comparison itself is query-set-sized.
    Both sides inherit the deterministic (cos DESC, neighbor_id)
    tie-break so recall is reproducible across engines.

    Plan shape: ONE corpus scan scores every pair once (formerly two —
    a brute-force pass and an own-cell IVF pass re-scoring the in-cell
    subset); the IVF ranking is the same cosine restricted to in-cell
    pairs, so a second row_number partitioned by (query, in-cell) ranks
    the probe side without re-scanning. Both windows cluster on
    query_id, so the finer window reuses the coarser one's exchange
    (extra sort, no extra shuffle).
    """
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qnrm"),
        F.col("label").alias("qcell"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        _norm(F.col("embedding")).alias("cnrm"),
        F.col("label").alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("cos"),
            (F.col("cell") == F.col("qcell")).alias("incell"),
        )
    )
    xw = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    aw = W.partitionBy("query_id", "incell").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    flags = scored.withColumn("xrank", F.row_number().over(xw)).withColumn(
        "arank", F.row_number().over(aw)
    )
    return (
        flags.filter(F.col("xrank") <= k)
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(
                (F.col("incell") & (F.col("arank") <= k)).cast("long")
            ).cast("long").alias("n_hit"),
        )
        .withColumn("recall", F.round(F.col("n_hit") / F.lit(float(k)), 6))
        .select("query_id", "n_exact", "n_hit", "recall")
    )


#: product-quantization geometry: EMBEDDING_DIM is split into PQ_M
#: subspaces of PQ_DSUB dims, each encoded against PQ_K sub-centroids
PQ_M = 8
PQ_DSUB = EMBEDDING_DIM // PQ_M
PQ_K = 4
#: Lloyd rounds for PQ codebook training. A FIXED count (not
#: run-to-convergence) keeps the operator deterministic and
#: SQL-expressible — the oracle unrolls the identical rounds (the q112
#: pattern). Training runs on the deterministic 1-in-PQ_TRAIN_MOD
#: vec_id sample: at 100 TB the training passes touch ~10% of the
#: corpus while the single encode pass touches all of it.
PQ_KMEANS_ROUNDS = 2
PQ_TRAIN_MOD = 10


def _pq_subvectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, s, subvec double[]) — row-local explode + slice."""
    return embeddings.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
        "embedding",
    ).select(
        "vec_id",
        "s",
        F.transform(
            F.slice(F.col("embedding"), F.col("s") * PQ_DSUB + 1, PQ_DSUB),
            lambda x: x.cast("double"),
        ).alias("subvec"),
    )


def pq_codebook_ctes(
    k: int = PQ_K,
    rounds: int = PQ_KMEANS_ROUNDS,
    train_mod: int = PQ_TRAIN_MOD,
    dsub: int = PQ_DSUB,
    prefix: str = "",
    src: str = "sub",
) -> str:
    """DuckDB CTE chain for a Lloyd-trained codebook, unrolled from the
    SAME constants as ``_lloyd_codebook`` (one spec, two engines).
    Expects a CTE named ``sub`` (vec_id, s, subvec) in scope; the final
    trained codebook CTE is named ``cb`` (s, cid, cvec). Defaults are
    the PQ geometry; the trained coarse quantizer passes its own."""
    l2 = (
        "list_sum(list_transform(list_zip(t.subvec, c.cvec), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    parts = [
        f"{prefix}tr AS (SELECT * FROM {src} WHERE vec_id % {train_mod} = 0)",
        f"{prefix}cb0 AS (SELECT s, vec_id AS cid, subvec AS cvec FROM {src}"
        f" WHERE vec_id < {k})",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""{prefix}a{r} AS (
        SELECT vec_id, s, cid, subvec FROM (
            SELECT t.vec_id, t.s, c.cid, t.subvec,
                   row_number() OVER (
                       PARTITION BY t.vec_id, t.s ORDER BY {l2}, c.cid) AS rn
            FROM {prefix}tr t JOIN {prefix}cb{r - 1} c ON c.s = t.s
        ) WHERE rn = 1)"""
        )
        parts.append(
            f"""{prefix}m{r} AS (
        SELECT s, cid, list(v ORDER BY pos) AS mvec FROM (
            SELECT x.s, x.cid, d.i AS pos, round(avg(x.subvec[d.i]), 6) AS v
            FROM {prefix}a{r} x,
                 LATERAL (SELECT unnest(range(1, {dsub} + 1)) AS i) d
            GROUP BY x.s, x.cid, d.i
        ) GROUP BY s, cid)"""
        )
        parts.append(
            f"""{prefix}cb{r} AS (
        SELECT c.s, c.cid, coalesce(m.mvec, c.cvec) AS cvec
        FROM {prefix}cb{r - 1} c LEFT JOIN {prefix}m{r} m ON m.s = c.s AND m.cid = c.cid)"""
        )
    parts.append(f"{prefix}cb AS (SELECT * FROM {prefix}cb{rounds})")
    return ",\n    ".join(parts)


def _pq_seed_codebook(sub: DataFrame) -> DataFrame:
    """(s, cid, cvec) — PQ_M x PQ_K rows seeded from the first PQ_K
    vectors' sub-vectors (deterministic, no RNG to mirror in SQL)."""
    return sub.filter(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").alias("cid"), F.col("subvec").alias("cvec")
    )


def _pq_assign_to(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, s, cid, d2, subvec): nearest entry of ``cb`` per
    (vector, subspace).

    r12 (guide §2.4 "remove shuffles outright"): the codebook collapses
    to ONE row per subspace (k is bounded — PQ_K/IVF_K — so the list is
    broadcast-sized by construction), and the argmin runs row-local as
    an array_min over the centroid list. The previous shape broadcast-
    joined the flat codebook (k rows per vector) and then SHUFFLED the
    corpus on (vec_id, s) to reduce the min-struct — a full exchange of
    the fan-out per assignment pass. Same values: d2 per (row,
    centroid) is the identical expression, and the (d2, cid) struct
    min is the identical deterministic tie-break. Assignment is now
    map-only at any scale. (The Lloyd ROUND loop keeps the flat
    min-struct shape — see ``_pq_assign_flat``: its input is the tiny
    train sample, where the extra collect_list stage and the heavier
    array-lambda codegen per round cost more than the shuffle they
    remove.)"""
    cbl = cb.groupBy("s").agg(
        F.collect_list(F.struct("cid", "cvec")).alias("cbs")
    )
    best = F.array_min(
        F.transform(
            "cbs",
            lambda c: F.struct(
                _l2sq(F.col("subvec"), c.cvec).alias("d2"),
                c.cid.alias("cid"),
            ),
        )
    )
    return (
        sub.join(F.broadcast(cbl), "s")
        .select("vec_id", "s", best.alias("m"), "subvec")
        .select("vec_id", "s", "m.cid", "m.d2", "subvec")
    )


def _pq_assign_flat(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """The broadcast-join + min-struct-agg assignment (identical rows
    to ``_pq_assign_to``) — kept for the Lloyd round loop over the
    train sample, where the keyed-agg shuffle of the (tiny) sample is
    cheaper than an extra per-round codebook stage."""
    d2 = _l2sq(F.col("subvec"), F.col("cvec"))
    return (
        sub.join(F.broadcast(cb), "s")
        .select(
            "vec_id",
            "s",
            F.struct(d2.alias("d2"), F.col("cid"), F.col("subvec")).alias("m"),
        )
        .groupBy("vec_id", "s")
        .agg(F.min("m").alias("m"))
        .select("vec_id", "s", "m.cid", "m.d2", "m.subvec")
    )


def _pq_codebook(sub: DataFrame) -> DataFrame:
    """(s, cid, cvec) — the k-means-TRAINED codebook: PQ_KMEANS_ROUNDS
    Lloyd rounds from the first-PQ_K seed, over the deterministic
    1-in-PQ_TRAIN_MOD training sample.

    Each round: assign every training sub-vector to its nearest
    centroid (broadcast codebook, keyed min-struct argmin), then
    recompute each centroid as the element-wise mean of its members —
    posexplode to (s, cid, pos) rows (a 256-group bounded agg with
    map-side partials), mean rounded 6dp so both engines agree exactly,
    re-collected in dim order. A centroid that loses all members keeps
    its previous value (left-join + coalesce). The PQ_M x PQ_K result
    is collected and recreated each round — a dim-sized scalar collect
    that truncates lineage so every Lloyd round is one job (MLlib's
    KMeans keeps its centroids driver-side the same way).
    """
    return _lloyd_codebook(sub, PQ_K, PQ_KMEANS_ROUNDS, PQ_TRAIN_MOD)


def _lloyd_codebook(
    sub: DataFrame,
    k: int,
    rounds: int,
    train_mod: int,
    seed: DataFrame | None = None,
) -> DataFrame:
    """Generic Lloyd trainer over (vec_id, s, subvec) rows — serves
    both the per-subspace PQ codebook (PQ_M subspaces) and the full-dim
    coarse quantizer (single subspace s=0). Contract documented on
    ``_pq_codebook``; the SQL twin is ``pq_codebook_ctes`` with the
    same parameters.

    ``seed`` overrides the default first-k-vec_ids seed with an
    explicit (s, cid, cvec) frame — callers whose input ids don't
    start at 0 (e.g. a streaming micro-batch) seed from the ids
    actually present instead of silently training a partial codebook.
    """
    # Materialize the training sample once: every Lloyd round re-reads
    # it, and for residual trainings its lineage includes a full
    # coarse-assign join — recomputing THAT per round would dominate
    # the training cost. (Persisting the sample is what MLlib's KMeans
    # does with its input via cache().)
    train = barrier(sub.filter(F.col("vec_id") % train_mod == 0))
    cb = seed if seed is not None else sub.filter(F.col("vec_id") < k).select(
        "s", F.col("vec_id").alias("cid"), F.col("subvec").alias("cvec")
    )
    for _ in range(rounds):
        assigned = _pq_assign_flat(train, cb)
        means = (
            assigned.select("s", "cid", F.posexplode("subvec").alias("pos", "v"))
            .groupBy("s", "cid", "pos")
            .agg(F.round(F.avg("v"), 6).alias("v"))
            .groupBy("s", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda x: x.v,
                ).alias("mvec")
            )
        )
        # round 12 (guide §5 "driver should do almost no data work"):
        # truncate each round's lineage with a barrier instead
        # of collect()+createDataFrame — same values (the means are
        # 6dp-rounded before use either way), but the codebook stays in
        # the JVM: no Python row serialization and no per-round plan
        # rebuild (~0.3-0.5 s saved per round across every Lloyd
        # training query).
        cb = (
            cb.join(means, ["s", "cid"], "left")
            .select("s", "cid", F.coalesce("mvec", "cvec").alias("cvec"))
            .transform(barrier)
        )
    return cb


def _l2sq(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_assign(embeddings: DataFrame) -> DataFrame:
    """(vec_id, s, cid, d2): per-(vector, subspace) nearest TRAINED
    codebook entry (one full-corpus encode pass against the broadcast
    trained codebook)."""
    sub = _pq_subvectors(embeddings)
    return _pq_assign_to(sub, _pq_codebook(sub)).select("vec_id", "s", "cid", "d2")


def pq_encode(embeddings: DataFrame, best: DataFrame | None = None) -> DataFrame:
    """Product-quantization encoding: each vector compressed to PQ_M
    small codes (the memory layout ANN indexes use to hold billions of
    vectors in RAM — 64 floats -> 8 codes here). The codebook is
    k-means-trained per subspace (PQ_KMEANS_ROUNDS Lloyd rounds over
    the deterministic 1-in-PQ_TRAIN_MOD sample, seeded from the first
    PQ_K vectors — see ``_pq_codebook``).

    Scale shape: sub-vectors are generated row-local (explode +
    slice); the codebook is PQ_M x PQ_K rows and broadcasts; argmin
    per (vec, subspace) is one keyed agg of a min-struct (map-side
    partial, deterministic d2-then-cid tie-break); codes fold back to
    an ordered array in a second keyed agg. Nothing corpus-scale is
    ever broadcast or windowed.

    Returns (vec_id, codes array, recon = sqrt of total squared
    quantization error, rounded 6dp).
    """
    # ``best`` overrides the inline train+encode with the stored
    # (vec_id, s, cid, d2) code table (read_pq_index — round 9): the
    # encode audit then contains no Lloyd jobs and no encode pass.
    if best is None:
        best = _pq_assign(embeddings)
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "cid"))), lambda x: x.cid
        ).alias("codes"),
        F.round(F.sqrt(F.sum("d2")), 6).alias("recon"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    cb: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the production
    PQ query path: the corpus is touched only through its PQ_M small
    codes, while the query stays full-precision. Per query, a lookup
    table of squared distances from each query sub-vector to every
    codebook entry (|Q| x PQ_M x PQ_K rows — broadcast-sized) joins the
    corpus code table on (subspace, code); the per-(query, vector) sum
    is one keyed agg with map-side partials. Distances are rounded 6dp
    BEFORE ranking (the q17 convention) so float-sum order can't flip
    ties between identically-coded vectors; rank ties break by
    neighbor id. WindowGroupLimit keeps top-k per query ahead of the
    final exchange.
    """
    # ``cb``/``codes`` override inline training+encode with the stored
    # plain-PQ artifact (read_pq_index — round 9): the serving DAG is
    # then a broadcast-LUT join over the stored code table only.
    if cb is None or codes is None:
        sub = _pq_subvectors(embeddings)
        cb = _pq_codebook(sub)  # trained once; codes and LUT share it
        codes = _pq_assign_to(sub, cb)
    codes = codes.select("vec_id", "s", "cid")
    qsub = _pq_subvectors(embeddings.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"), "s", F.col("subvec").alias("qsub")
    )
    lut = qsub.join(F.broadcast(cb), "s").select(
        "query_id", "s", "cid", _l2sq(F.col("qsub"), F.col("cvec")).alias("d2q")
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "cid"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d2q"), 6).alias("adc_d2"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_d2", "rank")
    )


def ivf_adc_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_probe: int = 2,
    cb: DataFrame | None = None,
    cell_codes: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF + ADC: the billion-scale serving path, composing the
    multi-probe coarse quantizer (``ann_multiprobe_topk``'s probe
    selection) with asymmetric-distance ranking over PQ codes
    (``pq_adc_topk``'s LUT join): candidates are pruned to the
    ``n_probe`` nearest cells per query, then ranked by ADC distance —
    the corpus is touched only through its PQ_M small codes, never its
    full-precision vectors.

    Scale shape: the code table keyed by coarse cell is the classic
    inverted-list layout — at 100 TB it is precomputed once and stored
    PARTITIONED BY cell, so a probe is a partition-pruned read (here
    the cell attaches via one co-partitioned equi-join on vec_id). The
    probe table (|Q| x n_probe) and the distance LUT (|Q| x PQ_M x
    PQ_K) both broadcast; scoring is one keyed agg with map-side
    partials over probed-cell rows only, and WindowGroupLimit keeps
    top-k per query ahead of the final exchange. Distances are rounded
    6dp BEFORE ranking, rank ties break by neighbor id (the q17
    convention).
    """
    # ``cb``/``cell_codes`` override inline training+encode with the
    # stored plain-PQ artifact (read_pq_index — round 9); the stored
    # code table already carries the label cell, partition-pruned.
    if cb is None or cell_codes is None:
        sub = _pq_subvectors(embeddings)
        cb = _pq_codebook(sub)
        cell_codes = (
            _pq_assign_to(sub, cb)
            .select("vec_id", "s", "cid")
            .join(embeddings.select("vec_id", F.col("label").alias("cell")), "vec_id")
        )
    cell_codes = cell_codes.select("vec_id", "s", "cid", "cell")
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # ``cents`` overrides the inline corpus aggregation with the stored
    # v3 coarse-centroid table (row-equal by construction)
    if cents is None:
        cents = cell_centroids(embeddings)
    cw = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("ccos", F.round(cosine(F.col("qvec"), F.col("centroid")), 6))
        .withColumn("probe_rank", F.row_number().over(cw))
        .filter(F.col("probe_rank") <= n_probe)
        .select("query_id", "cell")
    )
    qsub = _pq_subvectors(embeddings.filter(F.col("vec_id") < n_queries)).select(
        F.col("vec_id").alias("query_id"), "s", F.col("subvec").alias("qsub")
    )
    lut = qsub.join(F.broadcast(cb), "s").select(
        "query_id", "s", "cid", _l2sq(F.col("qsub"), F.col("cvec")).alias("d2q")
    )
    scored = (
        cell_codes.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(lut), ["query_id", "s", "cid"])
        .groupBy("query_id", "cell", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d2q"), 6).alias("adc_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "adc_d2", "rank")
    )


def ivf_adc_recall(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_probe: int = 2,
    cb: DataFrame | None = None,
    cell_codes: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the IVF+ADC path vs exact brute-force top-k — the
    audit that quantifies TOTAL loss of the compressed serving path
    (coarse-cell pruning + PQ quantization together), the number a
    production index build signs off on before serving traffic. Same
    bounded shapes as ``ann_recall``: exact side |Q| x N, approx side
    probed-cells only, comparison query-set-sized."""
    exact = ann_bruteforce_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = ivf_adc_topk(
        embeddings, n_queries, k, n_probe, cb, cell_codes, cents
    ).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .withColumn("recall", F.round(F.col("n_hit") / F.lit(float(k)), 6))
        .select("query_id", "n_exact", "n_hit", "recall")
    )


#: trained coarse quantizer geometry: IVF_K full-dimension cells,
#: trained with the same fixed Lloyd rounds / deterministic sample as
#: the PQ codebook (one trainer, two quantizers)
IVF_K = 8
IVF_KMEANS_ROUNDS = 2
IVF_TRAIN_MOD = 10


def _fulldim_sub(embeddings: DataFrame) -> DataFrame:
    """(vec_id, s=0, subvec) — the full embedding as a single-subspace
    input to the shared Lloyd trainer."""
    return embeddings.select(
        "vec_id",
        F.lit(0).alias("s"),
        F.transform("embedding", lambda x: x.cast("double")).alias("subvec"),
    )


def ivf_trained_assign(embeddings: DataFrame) -> DataFrame:
    """(vec_id, cell, d2): every vector assigned to its nearest TRAINED
    coarse cell — the real IVF build step (the label-as-cell variants
    stand in for exactly this). One full-dim Lloyd training on the
    1-in-IVF_TRAIN_MOD sample (bounded jobs, dim-sized collects), then
    one corpus pass against the broadcast IVF_K centroids; L2 metric
    throughout (mean updates optimize the L2 objective, so assignment
    must use it too)."""
    sub = _fulldim_sub(embeddings)
    cb = _lloyd_codebook(sub, IVF_K, IVF_KMEANS_ROUNDS, IVF_TRAIN_MOD)
    return _pq_assign_to(sub, cb).select(
        "vec_id", F.col("cid").alias("cell"), "d2"
    )


def ivf_trained_cell_stats(embeddings: DataFrame) -> DataFrame:
    """Per-trained-cell build report (cell, n_members, min/max member,
    avg_d2): the balance + distortion audit a production index build
    emits after training — q151's balance envelope, but over cells the
    trainer actually produced. Cell-cardinality-sized output; one keyed
    agg with map-side partials."""
    return (
        ivf_trained_assign(embeddings)
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_members"),
            F.min("vec_id").alias("min_member"),
            F.max("vec_id").alias("max_member"),
            F.round(F.avg(F.round(F.col("d2"), 6)), 4).alias("avg_d2"),
        )
    )


def ivf_trained_recall(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    assign: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of a single-probe IVF over TRAINED cells vs exact
    top-k — q116's audit with the trained quantizer substituted for the
    label stand-in, quantifying what training buys. Candidates are the
    query's own trained cell, ranked by full-precision cosine with the
    q17 tie-break.

    Plan shape (r13, the q116 collapse): ONE corpus scan scores every
    pair once — the probe ranking is the same cosine restricted to
    same-trained-cell pairs, so a second row_number partitioned by
    (query, in-cell) ranks it without the former separate probe pass.
    The assignment attaches by LEFT join so the exact side can never
    lose a candidate (unassigned vectors rank exactly as brute force
    and can never count as probe hits — identical to the old inner
    cell-equality join)."""
    # ``assign`` overrides inline training with the stored trained-cell
    # assignment (trained_assign_from_index — round 9)
    if assign is None:
        assign = ivf_trained_assign(embeddings).select("vec_id", "cell")
    q = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .join(assign, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            _norm(F.col("embedding")).alias("qnrm"),
            F.col("cell").alias("qcell"),
        )
    )
    c = embeddings.join(assign, "vec_id", "left").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        _norm(F.col("embedding")).alias("cnrm"),
        "cell",
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qnrm") * F.col("cnrm")),
                6,
            ).alias("cos"),
            (F.col("cell") == F.col("qcell")).alias("incell"),
        )
    )
    xw = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    aw = W.partitionBy("query_id", "incell").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    flags = scored.withColumn("xrank", F.row_number().over(xw)).withColumn(
        "arank", F.row_number().over(aw)
    )
    return (
        flags.filter(F.col("xrank") <= k)
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(
                (F.col("incell") & (F.col("arank") <= k)).cast("long")
            ).cast("long").alias("n_hit"),
        )
        .withColumn("recall", F.round(F.col("n_hit") / F.lit(float(k)), 6))
        .select("query_id", "n_exact", "n_hit", "recall")
    )


def ivf_incremental_ingest_audit(
    embeddings: DataFrame, split_id: int
) -> DataFrame:
    """Index-lifecycle audit: NEW vectors (vec_id >= split) are
    assigned to cells trained on HISTORY only (vec_id < split) — the
    O(batch) ingest path of a serving index, which must not retrain per
    delta — and the per-cell report compares the new batch's cell
    distribution against history's with a PSI term, the
    retrain-trigger signal (drifted embeddings pile into few stale
    cells). Training touches only the history sample; the delta pass is
    one broadcast-codebook argmin over batch rows; the report is
    cell-cardinality-sized. Returns (cell, n_hist, n_new, share_hist,
    share_new, psi_term)."""
    sub = _fulldim_sub(embeddings)
    hsub = sub.filter(F.col("vec_id") < split_id)
    cb = _lloyd_codebook(hsub, IVF_K, IVF_KMEANS_ROUNDS, IVF_TRAIN_MOD)
    assign = _pq_assign_to(sub, cb).select(
        "vec_id", F.col("cid").alias("cell")
    )
    counts = assign.groupBy("cell").agg(
        F.sum(F.when(F.col("vec_id") < split_id, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hist"),
        F.sum(F.when(F.col("vec_id") >= split_id, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
    )
    # degenerate splits (split at/beyond either corpus end) make a side
    # total 0; floor it at 1 so shares are 0, not null/inf — Spark and
    # DuckDB diverge on null/inf division semantics otherwise. Mirrored
    # in the q160 oracle.
    tot = counts.agg(
        F.greatest(F.sum("n_hist"), F.lit(1)).alias("th"),
        F.greatest(F.sum("n_new"), F.lit(1)).alias("tn"),
    )
    # PSI with the standard epsilon floor so empty cells stay finite;
    # mirrored in the oracle
    eps = F.lit(1e-4)
    sh = F.greatest(F.col("n_hist") / F.col("th"), eps)
    sn = F.greatest(F.col("n_new") / F.col("tn"), eps)
    return counts.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_hist",
        "n_new",
        F.round(F.col("n_hist") / F.col("th"), 6).alias("share_hist"),
        F.round(F.col("n_new") / F.col("tn"), 6).alias("share_new"),
        F.round((sn - sh) * F.log(sn / sh), 6).alias("psi_term"),
    )


def _split_subspaces(df: DataFrame, vec_col: str, *keys: str) -> DataFrame:
    """Row-local explode of ``vec_col`` into PQ_M (s, subvec) rows,
    keeping ``keys``."""
    return df.select(
        *keys,
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
        vec_col,
    ).select(
        *keys,
        "s",
        F.slice(F.col(vec_col), F.col("s") * PQ_DSUB + 1, PQ_DSUB).alias("subvec"),
    )


def _residual_pq_index(embeddings: DataFrame, split_id: int | None = None):
    """Build the IVF-PQ index pieces shared by the encode and serving
    paths: (coarse codebook, residual codebook, residuals-with-cell,
    per-subspace residual code assignment).

    With ``split_id``, BOTH codebooks train on history only (vec_id <
    split_id) while every vector is still encoded — the incremental
    encode-ingest contract (q160's history-only-training rule applied
    to the full IVF-PQ layout)."""
    sub0 = _fulldim_sub(embeddings)
    tr0 = sub0 if split_id is None else sub0.filter(F.col("vec_id") < split_id)
    coarse = _lloyd_codebook(tr0, IVF_K, IVF_KMEANS_ROUNDS, IVF_TRAIN_MOD)
    assigned = _pq_assign_to(sub0, coarse)
    # res feeds the residual training, the code assignment, AND every
    # caller's cell/encode joins — materialize the coarse-assign pass
    # once instead of re-running it per consumer.
    res = (
        assigned.join(F.broadcast(coarse), ["s", "cid"])
        .select(
            "vec_id",
            F.col("cid").alias("cell"),
            F.zip_with("subvec", "cvec", lambda a, b: a - b).alias("rvec"),
        )
        .transform(barrier)
    )
    rsub = _split_subspaces(res, "rvec", "vec_id")
    rtr = rsub if split_id is None else rsub.filter(F.col("vec_id") < split_id)
    rcb = _lloyd_codebook(rtr, PQ_K, PQ_KMEANS_ROUNDS, PQ_TRAIN_MOD)
    best = _pq_assign_to(rsub, rcb)
    return coarse, rcb, res, best


def ivfpq_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 5, n_probe: int = 2
) -> DataFrame:
    """The complete IVF-PQ serving path (the FAISS IndexIVFPQ query):
    probe the ``n_probe`` coarse cells nearest each query (L2, the
    trained quantizer's own metric), compute the query's residual
    AGAINST EACH PROBED CELL'S centroid — the detail that makes
    residual ADC correct: corpus codes in a cell encode residuals to
    that cell's centroid, so the query must be re-centered per probed
    cell — and rank candidates by asymmetric distance over their
    residual codes.

    Scale shape: probe selection and both LUTs are query-set-sized
    broadcasts; the cell-keyed residual code table is the stored
    inverted-list layout (partition-pruned by cell at scale); scoring
    is one keyed agg with map-side partials over probed-cell rows;
    WindowGroupLimit keeps top-k per query map-side. Distances rounded
    6dp before ranking, ties by neighbor id (the q17 convention).
    """
    sub0 = _fulldim_sub(embeddings)
    coarse, rcb, res, best = _residual_pq_index(embeddings)
    codes = best.select("vec_id", "s", "cid").join(
        res.select("vec_id", "cell"), "vec_id"
    )
    qd = (
        sub0.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(coarse), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cid").alias("cell"),
            _l2sq(F.col("subvec"), F.col("cvec")).alias("d2"),
            F.zip_with("subvec", "cvec", lambda a, b: a - b).alias("qrvec"),
        )
    )
    pw = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        qd.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "cell", "qrvec")
    )
    qrsub = _split_subspaces(probes, "qrvec", "query_id", "cell")
    lut = qrsub.join(F.broadcast(rcb), "s").select(
        "query_id",
        "cell",
        "s",
        "cid",
        _l2sq(F.col("subvec"), F.col("cvec")).alias("d2q"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "s", "cid"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "cell", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d2q"), 6).alias("adc_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "adc_d2", "rank")
    )


#: probe budgets for the recall-vs-cost tuning curve
PROBE_BUDGETS = (1, 2, 4)


def ann_trained_probe_curve(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    cb: DataFrame | None = None,
    assign: DataFrame | None = None,
) -> DataFrame:
    """Recall@k as a function of probe budget over the TRAINED
    quantizer — the tuning curve that prices the IVF recall knob
    (probe more cells => recall climbs toward brute force, cost grows
    linearly in probed rows). One corpus assignment + one probe
    ranking, then every budget in PROBE_BUDGETS shares them: the probe
    table fans out by a row-local budget explode, candidate ranking
    windows on the bounded (budget, query) key over probed-cell rows
    only, and the report is a budget-cardinality agg. Returns
    (n_probe, avg_recall, min_recall)."""
    sub = _fulldim_sub(embeddings)
    # ``cb``/``assign`` override inline training with the stored coarse
    # codebook + trained-cell assignment (round 9): the tuning curve
    # then prices probe budgets against the SERVING index, zero Lloyd
    # jobs in the DAG.
    if cb is None:
        cb = _lloyd_codebook(sub, IVF_K, IVF_KMEANS_ROUNDS, IVF_TRAIN_MOD)
    if assign is None:
        assign = _pq_assign_to(sub, cb).select(
            "vec_id", F.col("cid").alias("cell")
        )
    qd = (
        sub.filter(F.col("vec_id") < n_queries)
        .join(F.broadcast(cb), "s")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cid").alias("cell"),
            _l2sq(F.col("subvec"), F.col("cvec")).alias("d2"),
        )
    )
    # r12: attach the budget AFTER scoring. The old probe table carried
    # one (n_probe, query, cell) row per budget, so the cell join
    # multiplied every candidate pair by |PROBE_BUDGETS| and the cosine
    # re-evaluated per copy; now each pair scores once with the cell's
    # probe rank riding along, and the budget fan-out is a row-local
    # explode + integer filter on already-rounded cosines — identical
    # (pair, budget) rows reach the window.
    pw = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        qd.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= max(PROBE_BUDGETS))
        .select("query_id", "cell", "pr")
    )
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = embeddings.join(assign, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        "cell",
    )
    scored = (
        c.join(F.broadcast(probes), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(q), ["query_id"])
        .withColumn("cos", F.round(cosine(F.col("qvec"), F.col("cvec")), 6))
        .withColumn(
            "n_probe",
            F.explode(F.array(*[F.lit(b) for b in PROBE_BUDGETS])),
        )
        .filter(F.col("pr") <= F.col("n_probe"))
    )
    w = W.partitionBy("n_probe", "query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("n_probe", "query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    exact = ann_bruteforce_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    # a literal-array explode, not createDataFrame: keeps the 3-row
    # budget frame out of ExistingRDD so the no-inline-training plan
    # assert (ExistingRDD = materialized Lloyd sample) stays exact
    budgets = (
        embeddings.sparkSession.range(1)
        .select(
            F.explode(F.array(*[F.lit(int(b)) for b in PROBE_BUDGETS])).alias(
                "nb"
            )
        )
        .select(F.col("nb").cast("int").alias("n_probe"))
    )
    per_q = (
        exact.crossJoin(F.broadcast(budgets))
        .join(approx, ["n_probe", "query_id", "neighbor_id"], "left")
        .groupBy("n_probe", "query_id")
        .agg(
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(float(k))
            ).alias("recall")
        )
    )
    return (
        per_q.groupBy("n_probe")
        .agg(
            F.round(F.avg("recall"), 6).alias("avg_recall"),
            F.round(F.min("recall"), 6).alias("min_recall"),
        )
    )


def pq_residual_encode(embeddings: DataFrame) -> DataFrame:
    """IVF-PQ proper: PQ-encode the RESIDUAL (vector minus its assigned
    trained coarse centroid) — the storage layout a production
    billion-vector index actually writes (FAISS IndexIVFPQ). Residuals
    concentrate near the origin, so the same PQ bit budget spends its
    codes on local detail: total reconstruction error must drop vs
    encoding raw vectors (pinned by pytest).

    Scale shape: coarse assignment is ``ivf_trained_assign``'s one
    corpus pass; the residual is a row-local zip_with against the
    broadcast centroid; the residual PQ codebook trains through the
    same ``_lloyd_codebook`` (bounded jobs); the final encode is one
    keyed argmin + regroup, exactly ``pq_encode``'s tail. Returns
    (vec_id, cell, codes comma-string, recon)."""
    _coarse, _rcb, res, best = _residual_pq_index(embeddings)
    enc = (
        best.groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "cid"))),
                    lambda x: x.cid.cast("string"),
                ),
                ",",
            ).alias("codes"),
            F.round(F.sqrt(F.sum("d2")), 6).alias("recon"),
        )
    )
    return enc.join(res.select("vec_id", "cell"), "vec_id").select(
        "vec_id", "cell", "codes", "recon"
    )


def lsh_signature(emb) -> F.Column:
    """16-bit hyperplane signature as an int (bit i = sign of dot with
    plane i)."""
    planes = lsh_hyperplanes()
    out = F.lit(0)
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        out = out + F.when(_dot(emb, lit_plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out


def lsh_signature_sql(emb: str) -> str:
    planes = lsh_hyperplanes()
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(f"CAST({v} AS DOUBLE)" for v in plane) + "]"
        dot = f"list_sum(list_transform(list_zip({emb}, {lit}), p -> CAST(p[1] AS DOUBLE) * p[2]))"
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def embed_assign_from_store(
    batch_vecs: DataFrame, spark: SparkSession, artifact_dir: str
) -> DataFrame:
    """Near-dup cluster assignment for ARRIVING vectors against the
    STORED embed-cluster artifact (v4) — the read-only O(delta) probe:
    the batch is signed and banded (O(batch)), candidate neighbors
    come from the stored band index under the FROZEN per-bucket
    hot-bucket cap (`eband_stats`, the q138 history-cap contract),
    cosine verification joins the STORED vectors for candidates only,
    and the assigned label is the matched neighbors' minimum effective
    label (stored label, vec_id for implicit singletons). Vectors with
    no verified neighbor are their own singleton cluster. The artifact
    is never mutated — this is the deployed dedup-gate shape
    (`streaming_bm25_score`'s read-only convention, on vectors).

    Returns (vec_id, n_matched, best_cos, label)."""
    from whale_sightings_spark.operators import dedup as DD

    from whale_sightings_spark.plans.store_utils import read_artifact_table

    ebands = read_artifact_table(
        spark, DD.cluster_ebands_path(artifact_dir)
    ).select("bi", "bk", F.col("vec_id").alias("hist_id"))
    kept = (
        read_artifact_table(spark, DD.cluster_eband_stats_path(artifact_dir))
        .filter(F.col("bucket_n") <= MAX_SIG_BUCKET)
        .select("bi", "bk")
    )
    evecs = read_artifact_table(
        spark, DD.cluster_evecs_path(artifact_dir)
    ).select(F.col("vec_id").alias("hist_id"), F.col("embedding").alias("emb_h"))
    labels = DD.stored_cluster_labels(spark, artifact_dir).select(
        F.col("doc_id").alias("hist_id"), "label"
    )
    b = batch_vecs.select(
        F.col("vec_id").cast("long"), F.col("embedding").alias("emb_b")
    )
    banded_b = lsh_banded(
        b.select("vec_id", lsh_signature(F.col("emb_b")).alias("sig"))
    )
    cands = (
        banded_b.join(kept, ["bi", "bk"])
        .join(ebands, ["bi", "bk"])
        .select("vec_id", "hist_id")
        .distinct()
    )
    verified = (
        cands.join(b, "vec_id")
        .join(evecs, "hist_id")
        .withColumn(
            "cos", F.round(cosine(F.col("emb_b"), F.col("emb_h")), 6)
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .join(labels, "hist_id", "left")
        .withColumn("eff", F.coalesce("label", "hist_id"))
        .groupBy("vec_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matched"),
            F.max("cos").alias("best_cos"),
            F.min("eff").cast("long").alias("match_label"),
        )
    )
    return (
        b.select("vec_id")
        .join(verified, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias(
                "n_matched"
            ),
            "best_cos",
            F.coalesce("match_label", F.col("vec_id")).cast("long").alias(
                "label"
            ),
        )
    )


def lsh_banded(sigs: DataFrame) -> DataFrame:
    """(vec_id, bi, bk): the 16-bit hyperplane signature split into
    two 8-bit bands — the multi-band LSH blocking key shared by the
    batch near-dup join and the stored embed-band probe index."""
    mask = (1 << LSH_BAND_BITS) - 1
    return sigs.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("bi"),
                    F.col("sig").bitwiseAND(F.lit(mask)).alias("bk"),
                ),
                F.struct(
                    F.lit(1).alias("bi"),
                    F.shiftright("sig", LSH_BAND_BITS).alias("bk"),
                ),
            )
        ).alias("b"),
    ).select("vec_id", F.col("b.bi").alias("bi"), F.col("b.bk").alias("bk"))


def embedding_neardup_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup: banded hyperplane-LSH blocking +
    cosine verify >= threshold.

    The 16-bit signature splits into two 8-bit bands; a pair becomes a
    candidate iff it collides in ANY band (standard multi-band LSH —
    single-bucket blocking on all 16 bits has vanishing recall). Band
    buckets larger than MAX_SIG_BUCKET are dropped before pair
    expansion — a degenerate signature (all-zero embeddings,
    boilerplate clusters) would otherwise expand quadratically. Both
    the banding and the cap are applied in the DuckDB oracle, so they
    are part of the operator contract. Verification (the only stage
    touching the vectors) runs over distinct candidate pairs only:
    bands shuffle narrow (vec_id, band) rows, then two equi-joins pull
    the embeddings back for the cosine check."""
    sigs = embeddings.select(
        F.col("vec_id"), lsh_signature(F.col("embedding")).alias("sig")
    )
    banded = lsh_banded(sigs)
    kept = (
        banded.groupBy("bi", "bk")
        .agg(F.count("*").alias("bucket_n"))
        .filter((F.col("bucket_n") > 1) & (F.col("bucket_n") <= MAX_SIG_BUCKET))
        .select("bi", "bk")
    )
    blocked = banded.join(kept, ["bi", "bk"])
    a = blocked.alias("a")
    b = blocked.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    return (
        cands.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos", F.round(cosine(F.col("emb_a"), F.col("emb_b")), 6))
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cos")
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index lifecycle — build ONCE, serve MANY. The
# inline q153/q161 paths prove the math but retrain per call; a real
# index is an on-disk artifact: two dim-sized codebooks plus the
# residual code table stored PARTITIONED BY coarse cell (the classic
# inverted-list layout), so a probe of n_probe cells is a
# partition-PRUNED read touching n_probe/IVF_K of the data at rest.
# Parity note: the reference has no vector index at all — this family
# is part of the net-new LLM-pipeline surface the brief demands.
# ---------------------------------------------------------------------------

#: bump when codebook geometry/constants change — the cached index
#: path embeds it so stale artifacts are never served
#: v2 (round 9): the artifact also stores the plain (non-residual) PQ
#: codebook and the label-cell PQ code table, so the whole ADC family
#: (q127/q137/q153/q154) serves with zero Lloyd jobs and zero encode
#: passes in its DAGs
#: v3 (round 13): the artifact also stores the label-cell coarse
#: centroids — a real IVF index ships its coarse quantizer with the
#: inverted lists; q153/q154 were re-deriving them from the full
#: corpus on every probe selection
INDEX_FORMAT_VERSION = 3


def ivfpq_index_paths(index_dir: str) -> tuple[str, str, str]:
    base = index_dir.rstrip("/")
    return (
        base + "/coarse_codebook",
        base + "/residual_codebook",
        base + "/codes",
    )


def ivfpq_index_extra_paths(index_dir: str) -> tuple[str, str]:
    """(pq_codebook, pq_codes) dirs — the plain-PQ half of the v2
    artifact. ``codes`` (written LAST) still carries the completeness
    marker for the whole index."""
    base = index_dir.rstrip("/")
    return (base + "/pq_codebook", base + "/pq_codes")


def ivfpq_index_centroids_path(index_dir: str) -> str:
    """label_centroids dir — the v3 coarse-quantizer half of the
    label-cell inverted lists (cell, centroid); written before
    ``codes`` so the completeness marker still covers it."""
    return index_dir.rstrip("/") + "/label_centroids"


def build_ivfpq_index(embeddings: DataFrame, index_dir: str) -> None:
    """Build-once: train the coarse + residual codebooks
    (``_residual_pq_index`` — bounded Lloyd jobs over the deterministic
    sample), encode the whole corpus, and write three artifacts under
    ``index_dir``:

    - ``coarse_codebook``  (s=0, cid, cvec) — IVF_K rows
    - ``residual_codebook`` (s, cid, cvec) — PQ_M x PQ_K rows
    - ``codes`` (vec_id, s, cid) PARTITIONED BY cell — the inverted
      lists; one shuffle keyed by cell co-locates each list into its
      own partition directory (at 100 TB add
      ``spark.sql.files.maxRecordsPerFile`` so hot cells split into
      multiple files; the directory layout is unchanged).

    Training is deterministic (fixed seeds, fixed rounds, 6dp-rounded
    means), so a rebuild over the same corpus reproduces the artifact
    bit-for-bit — serving from the store equals the inline
    ``ivfpq_topk`` result, which is how the q173 oracle checks it.
    """
    coarse_dir, rcb_dir, codes_dir = ivfpq_index_paths(index_dir)
    pqcb_dir, pq_codes_dir = ivfpq_index_extra_paths(index_dir)
    coarse, rcb, res, best = _residual_pq_index(embeddings)
    coarse.write.mode("overwrite").parquet(coarse_dir)
    rcb.write.mode("overwrite").parquet(rcb_dir)
    # v2: the plain (non-residual) PQ half — codebook + full-corpus
    # (vec_id, s, cid, d2) codes keyed by the LABEL cell, the inverted
    # lists the label-cell ADC family (q137/q153/q154) probes; d2 rides
    # along so the encode audit (q127's recon) is a stored read too
    sub = _pq_subvectors(embeddings)
    pqcb = _pq_codebook(sub)
    pqcb.write.mode("overwrite").parquet(pqcb_dir)
    pq_codes = (
        _pq_assign_to(sub, pqcb)
        .select("vec_id", "s", "cid", "d2")
        .join(embeddings.select("vec_id", F.col("label").alias("cell")), "vec_id")
    )
    (
        pq_codes.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(pq_codes_dir)
    )
    # v3: the label-cell coarse centroids (6dp-rounded per-dim means,
    # the exact table cell_centroids() derives) ride with the inverted
    # lists, so probe selection at serve time reads IVF_K-ish rows
    # instead of re-aggregating the corpus
    cell_centroids(embeddings).write.mode("overwrite").parquet(
        ivfpq_index_centroids_path(index_dir)
    )
    codes = best.select("vec_id", "s", "cid").join(
        res.select("vec_id", "cell"), "vec_id"
    )
    (
        codes.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(codes_dir)
    )


def read_ivfpq_index(spark, index_dir: str):
    """(coarse, rcb, codes) read back schema-pinned; ``cell`` (a
    partition directory column, inferred int) is cast back to long
    AFTER the scan so partition pruning still sees the raw column."""
    from whale_sightings_spark.plans.store_utils import read_artifact_table

    coarse_dir, rcb_dir, codes_dir = ivfpq_index_paths(index_dir)
    cb_schema = "s int, cid bigint, cvec array<double>"
    coarse = read_artifact_table(spark, coarse_dir, cb_schema)
    rcb = read_artifact_table(spark, rcb_dir, cb_schema)
    codes = read_artifact_table(spark, codes_dir)
    return coarse, rcb, codes


def read_pq_index(spark, index_dir: str) -> tuple[DataFrame, DataFrame]:
    """(pq_codebook, pq_codes) off the v2 artifact — the plain-PQ
    codebook (s, cid, cvec) and the label-cell code table
    (vec_id, s, cid, d2, cell). ``cell`` is a partition directory
    column; it is cast AFTER the scan so partition pruning still sees
    the raw column (the read_ivfpq_index convention)."""
    from whale_sightings_spark.plans.store_utils import read_artifact_table

    pqcb_dir, pq_codes_dir = ivfpq_index_extra_paths(index_dir)
    pqcb = read_artifact_table(
        spark, pqcb_dir, "s int, cid bigint, cvec array<double>"
    )
    pq_codes = read_artifact_table(spark, pq_codes_dir).select(
        "vec_id", "s", "cid", "d2", F.col("cell").cast("int").alias("cell")
    )
    return pqcb, pq_codes


def read_label_centroids(spark, index_dir: str) -> DataFrame:
    """(cell, centroid) off the v3 artifact — row-equal to
    ``cell_centroids(embeddings)`` (deterministic: 6dp-rounded per-dim
    means; the build writes exactly that table)."""
    from whale_sightings_spark.plans.store_utils import read_artifact_table

    return read_artifact_table(
        spark,
        ivfpq_index_centroids_path(index_dir),
        "cell int, centroid array<double>",
    )


def trained_assign_from_index(spark, index_dir: str) -> DataFrame:
    """(vec_id, cell) — every vector's TRAINED coarse cell read off the
    stored code table. The residual code rows are one per (vector,
    subspace); filtering to s=0 yields exactly one row per vector with
    no distinct shuffle. Row-equal to ``ivf_trained_assign``'s
    (vec_id, cell) (same trainer, same constants — deterministic)."""
    _coarse, _rcb, codes = read_ivfpq_index(spark, index_dir)
    return codes.filter(F.col("s") == 0).select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    )


def ivfpq_topk_from_index(
    spark,
    embeddings: DataFrame,
    index_dir: str,
    n_queries: int = 5,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Serve-many: ``ivfpq_topk``'s exact query path, but every stored
    piece comes from the ``build_ivfpq_index`` artifact — NO Lloyd
    training in this DAG. Probe selection ranks the stored coarse
    centroids per query (broadcast, |Q| x IVF_K); the probed cell ids
    (|Q| x n_probe scalars) collect to the driver and push into the
    code-table scan as a partition filter, so the inverted-list read
    is PRUNED to the probed cells (plan-asserted in
    tests/test_similarity.py). Re-centered per-cell LUTs, keyed ADC
    agg, and WindowGroupLimit top-k are identical to the inline path,
    and so is the result (training is deterministic)."""
    coarse, rcb, codes = read_ivfpq_index(spark, index_dir)
    qsub0 = _fulldim_sub(embeddings.filter(F.col("vec_id") < n_queries))
    qd = qsub0.join(F.broadcast(coarse), "s").select(
        F.col("vec_id").alias("query_id"),
        F.col("cid").alias("cell"),
        _l2sq(F.col("subvec"), F.col("cvec")).alias("d2"),
        F.zip_with("subvec", "cvec", lambda a, b: a - b).alias("qrvec"),
    )
    pw = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    probes = (
        qd.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "cell", "qrvec")
    )
    # |Q| x n_probe scalar collect: the probed-cell list becomes a
    # partition filter on the stored code table — the scan reads only
    # the probed inverted lists
    probe_cells = sorted(
        {r["cell"] for r in probes.select("cell").distinct().collect()}
    )
    pruned = codes.filter(
        F.col("cell").isin([int(c) for c in probe_cells])
    ).select("vec_id", "s", "cid", F.col("cell").cast("long").alias("cell"))
    qrsub = _split_subspaces(probes, "qrvec", "query_id", "cell")
    lut = qrsub.join(F.broadcast(rcb), "s").select(
        "query_id",
        "cell",
        "s",
        "cid",
        _l2sq(F.col("subvec"), F.col("cvec")).alias("d2q"),
    )
    scored = (
        pruned.join(F.broadcast(lut), ["cell", "s", "cid"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "cell", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d2q"), 6).alias("adc_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell", "neighbor_id", "adc_d2", "rank")
    )


#: MMR diversified re-ranking constants (one spec, two engines — the
#: oracle embeds the SAME Python reprs). OML is written out, not
#: computed as 1-LAMBDA, so both engines see the identical double.
MMR_LAMBDA = 0.7
MMR_OML = 0.3
MMR_POOL = 20
MMR_K = 5


def mmr_topk(
    embeddings: DataFrame,
    n_queries: int = 3,
    k: int = MMR_K,
    pool: int = MMR_POOL,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): greedy selection where pick r maximizes
    ``λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`` — the re-rank a
    RAG retrieval stack runs so the k contexts aren't k near-copies.

    Scale shape: ONE corpus-scale stage (the brute-force relevance
    scan + WindowGroupLimit top-``pool`` — q17's plan; swap in the
    IVF probe for the pool at 100 TB), then K driver rounds over the
    BOUNDED |Q|×pool candidate frame: anti-join the selected set,
    max-sim against ≤ k broadcast selected rows, argmax per query.
    Nothing corpus-scale ever re-shuffles. All sims are 6dp-rounded
    BEFORE the greedy (the q17 convention), so cross-engine argmax
    comparisons operate on identical doubles.

    Returns (query_id, rank 1..k in selection order, neighbor_id,
    relevance, mmr_score); rank-1 rows carry score = relevance (the
    first pick has no diversity term)."""
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        "cvec",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("rel"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("neighbor_id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pool)
        .select("query_id", "neighbor_id", "cvec", "rel")
    )
    # r12 (guide §5 — the driver should run no per-round jobs): the
    # greedy used to run K-1 driver rounds of anti-join + broadcast
    # join + agg + window over the BOUNDED |Q|×pool frame, each round a
    # blocking barrier — ~0.3 s of pure job overhead per round.
    # The frame is pool-bounded per query BY CONSTRUCTION, so the whole
    # greedy runs row-local instead: collect each query's pool into one
    # row (ordered by the rank-1 criterion), precompute the pool×pool
    # 6dp-rounded sim matrix once, and unroll the K argmax rounds as
    # pure array expressions over indices. Same doubles (identical
    # rounded sims, identical λ·rel − (1−λ)·maxsim arithmetic) and the
    # identical (score DESC, neighbor_id ASC) tie-break via (score,
    # -neighbor_id) struct max. One job, zero loop actions.
    g = cand.groupBy("query_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("rel")).alias("nrel"),
                        F.col("neighbor_id").alias("nid"),
                        F.col("rel").alias("rel"),
                        F.col("cvec").alias("cvec"),
                    )
                )
            ),
            lambda x: F.struct(
                x.nid.alias("nid"), x.rel.alias("rel"), x.cvec.alias("cvec")
            ),
        ).alias("items")
    )
    g = g.withColumn(
        "sims",
        F.transform(
            "items",
            lambda a: F.transform(
                "items", lambda b: F.round(cosine(a.cvec, b.cvec), 6)
            ),
        ),
    )
    items = F.col("items")
    n_items = F.size("items")

    def item(i):
        return F.element_at(items, i + F.lit(1))

    # greedy over indices: sel1..selK name the picked-index arrays and
    # best2..bestK the per-round argmax structs as COLUMNS, so each
    # round references the previous round's named result instead of
    # re-inlining its expression tree (CollapseProject keeps multiply-
    # referenced non-cheap aliases materialized).
    g = g.withColumn("sel1", F.array(F.lit(0)))
    out_rows = [
        F.struct(
            F.lit(1).cast("int").alias("rank"),
            item(F.lit(0)).nid.alias("neighbor_id"),
            item(F.lit(0)).rel.alias("relevance"),
            item(F.lit(0)).rel.cast("double").alias("score"),
        )
    ]
    for r in range(2, k + 1):
        sel = F.col(f"sel{r - 1}")
        idxs = F.sequence(F.lit(0), n_items - F.lit(1))

        def make_cand_struct(sel):
            # one-arg lambda only: a second Python parameter would make
            # PySpark treat this as the (element, index) lambda form
            def cand_struct(i):
                maxsim = F.array_max(
                    F.transform(
                        sel,
                        lambda j: F.element_at(
                            F.element_at("sims", i + F.lit(1)),
                            j + F.lit(1),
                        ),
                    )
                )
                score = (
                    F.lit(MMR_LAMBDA) * item(i).rel
                    - F.lit(MMR_OML) * maxsim
                )
                return F.when(
                    ~F.array_contains(sel, i),
                    F.struct(
                        score.alias("score"),
                        (-item(i).nid).alias("negid"),
                        i.alias("i"),
                    ),
                )

            return cand_struct

        cand_struct = make_cand_struct(sel)

        g = g.withColumn(
            f"best{r}",
            F.array_max(
                F.filter(
                    F.transform(idxs, cand_struct), lambda s: s.isNotNull()
                )
            ),
        )
        best = F.col(f"best{r}")
        out_rows.append(
            F.when(
                n_items >= F.lit(r),
                F.struct(
                    F.lit(r).cast("int").alias("rank"),
                    item(best.i).nid.alias("neighbor_id"),
                    item(best.i).rel.alias("relevance"),
                    best.score.cast("double").alias("score"),
                ),
            )
        )
        g = g.withColumn(
            f"sel{r}",
            F.when(
                best.isNotNull(), F.array_append(sel, best.i)
            ).otherwise(sel),
        )
    picked = g.select(
        "query_id",
        F.explode(
            F.filter(F.array(*out_rows), lambda s: s.isNotNull())
        ).alias("p"),
    )
    return picked.select(
        "query_id",
        F.col("p.rank").alias("rank"),
        F.col("p.neighbor_id").alias("neighbor_id"),
        F.col("p.relevance").alias("relevance"),
        F.round("p.score", 6).alias("mmr_score"),
    )


def mmr_topk_sql(n_queries: int = 3, k: int = MMR_K, pool: int = MMR_POOL) -> str:
    """DuckDB twin: the same K greedy rounds unrolled from the same
    constants (6dp-rounded sims before the greedy, identical λ reprs,
    same (score DESC, neighbor_id) argmax tie-break)."""
    cos = cosine_sql("c.embedding", "q.qvec")
    parts = [
        f"""q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < {n_queries})""",
        f"""scored AS (
        SELECT q.query_id, c.vec_id AS nid, c.embedding AS cvec,
               round({cos}, 6) AS rel
        FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id)""",
        f"""cand AS (
        SELECT query_id, nid, cvec, rel FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rel DESC, nid) AS rn
            FROM scored
        ) WHERE rn <= {pool})""",
        """s1 AS (
        SELECT query_id, nid, cvec, rel, CAST(1 AS INT) AS rank,
               rel AS score
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rel DESC, nid) AS rn
            FROM cand
        ) WHERE rn = 1)""",
    ]
    pair = cosine_sql("c.cvec", "s.cvec")
    for r in range(2, k + 1):
        parts.append(f"""m{r} AS (
        SELECT c.query_id, c.nid, max(round({pair}, 6)) AS maxsim
        FROM cand c JOIN s{r - 1} s ON s.query_id = c.query_id
        WHERE NOT EXISTS (
            SELECT 1 FROM s{r - 1} x
            WHERE x.query_id = c.query_id AND x.nid = c.nid)
        GROUP BY c.query_id, c.nid)""")
        parts.append(f"""p{r} AS (
        SELECT query_id, nid, cvec, rel, CAST({r} AS INT) AS rank, score
        FROM (
            SELECT c.query_id, c.nid, c.cvec, c.rel,
                   {MMR_LAMBDA!r} * c.rel - {MMR_OML!r} * m.maxsim AS score,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY ({MMR_LAMBDA!r} * c.rel
                                 - {MMR_OML!r} * m.maxsim) DESC, c.nid
                   ) AS rn
            FROM m{r} m JOIN cand c
              ON c.query_id = m.query_id AND c.nid = m.nid
        ) WHERE rn = 1)""")
        parts.append(
            f"s{r} AS (SELECT * FROM s{r - 1} UNION ALL SELECT * FROM p{r})"
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT query_id, rank, nid AS neighbor_id, rel AS relevance,
           round(score, 6) AS mmr_score
    FROM s{k}
    """


def compact_ivfpq_index(spark, index_dir: str) -> dict[str, int]:
    """Index maintenance after streaming ingest: each
    ``streaming_ivfpq_index_ingest`` trigger appends one (or more)
    small files per touched cell, and after enough triggers the
    inverted lists fragment into many tiny parquet files — the scan
    then pays per-file open cost instead of sequential reads.
    Compaction rewrites the code table in the SAME cell-partitioned
    layout with one file per cell (``spark.sql.files.maxRecordsPerFile``
    still splits genuinely hot cells), preserving contents exactly,
    through `plans.store_utils.swap_table` (write target ≠ read source,
    so a torn compaction leaves the live dir untouched). The v2
    plain-PQ code table compacts the same way under its own keys.
    Returns {"files_before": n, "files_after": m, "rows": r,
    "pq_files_before": ..., "pq_files_after": ..., "pq_rows": ...} so
    callers can assert the win."""
    import os

    from whale_sightings_spark.plans.store_utils import (
        parquet_files,
        swap_table,
    )

    _coarse_dir, _rcb_dir, codes_dir = ivfpq_index_paths(index_dir)
    _pqcb_dir, pq_codes_dir = ivfpq_index_extra_paths(index_dir)

    def _compact(d: str, cols) -> tuple[int, int, int]:
        before = parquet_files(d)
        t = spark.read.parquet(d)
        rows = t.count()
        swap_table(
            d,
            lambda staging: (
                t.select(*cols)
                .repartition("cell")
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(staging)
            ),
        )
        return before, parquet_files(d), rows

    b, a, r = _compact(
        codes_dir,
        ("vec_id", "s", "cid", F.col("cell").cast("long").alias("cell")),
    )
    out = {"files_before": b, "files_after": a, "rows": r}
    if os.path.isdir(pq_codes_dir):
        pb, pa, pr = _compact(
            pq_codes_dir,
            ("vec_id", "s", "cid", "d2", F.col("cell").cast("int").alias("cell")),
        )
        out.update(
            {"pq_files_before": pb, "pq_files_after": pa, "pq_rows": pr}
        )
    return out


def ivfpq_stored_cell_stats(spark, index_dir: str) -> DataFrame:
    """Build audit read from the STORED artifact: per inverted list
    (cell), member count, code-row count (must be members x PQ_M),
    distinct residual codes in use, and member id bounds — the
    sign-off report a build job emits before the index serves traffic.
    One scan of the code table + a cell-cardinality agg."""
    _coarse, _rcb, codes = read_ivfpq_index(spark, index_dir)
    return (
        codes.select(F.col("cell").cast("long").alias("cell"), "vec_id", "s", "cid")
        .groupBy("cell")
        .agg(
            F.countDistinct("vec_id").alias("n_vecs"),
            F.count("*").alias("n_code_rows"),
            F.countDistinct("s", "cid").alias("n_codes_used"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
        )
    )


def ivfpq_incremental_encode(
    embeddings: DataFrame, split_id: int
) -> DataFrame:
    """Encode-ingest: every vector's IVF-PQ layout (cell + residual
    codes + recon) where BOTH codebooks are trained on HISTORY only
    (vec_id < split_id) — what a serving index does when a delta
    arrives: assign + encode against the STORED quantizers, never
    retrain per batch. Per-delta cost is one broadcast-codebook coarse
    argmin, a row-local residual, and one broadcast residual-codebook
    argmin — O(batch), q160's ingest contract extended to the full
    storage layout. Returns (vec_id, cell, codes comma-string, recon);
    the streaming twin (streaming/events.streaming_ivfpq_encode) must
    drain to exactly these rows when the first micro-batch holds the
    history."""
    _coarse, _rcb, res, best = _residual_pq_index(embeddings, split_id)
    return _encode_rows(res, best)


def _encode_rows(res: DataFrame, best: DataFrame) -> DataFrame:
    """(vec_id, cell, codes comma-string, recon) from the residual
    frame + per-subspace assignment — shared by the inline and
    stored-codebook encode paths."""
    enc = best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "cid"))),
                lambda x: x.cid.cast("string"),
            ),
            ",",
        ).alias("codes"),
        F.round(F.sqrt(F.sum("d2")), 6).alias("recon"),
    )
    return enc.join(res.select("vec_id", "cell"), "vec_id").select(
        "vec_id", "cell", "codes", "recon"
    )


def ivfpq_assign_encode(
    embeddings: DataFrame, coarse: DataFrame, rcb: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(res, best) for ``embeddings`` against ALREADY-TRAINED codebook
    frames: one broadcast coarse argmin, a row-local residual, one
    broadcast residual argmin — O(batch), no Lloyd jobs in the DAG.
    The serve-side half of ``_residual_pq_index``."""
    sub0 = _fulldim_sub(embeddings)
    assigned = _pq_assign_to(sub0, coarse)
    res = assigned.join(F.broadcast(coarse), ["s", "cid"]).select(
        "vec_id",
        F.col("cid").alias("cell"),
        F.zip_with("subvec", "cvec", lambda a, b: a - b).alias("rvec"),
    )
    rsub = _split_subspaces(res, "rvec", "vec_id")
    best = _pq_assign_to(rsub, rcb)
    return res, best


def ivfpq_encode_from_index(
    spark, embeddings: DataFrame, index_dir: str
) -> DataFrame:
    """``ivfpq_incremental_encode`` served from the PERSISTED artifact:
    both codebooks come off ``build_ivfpq_index``'s store (built over
    the history slice), so the encode DAG contains NO Lloyd training —
    the O(batch) plan a serving index runs per delta, now on the same
    artifact q172/q173 build and serve. Training is deterministic, so
    the rows equal the inline history-trained encode exactly (pinned
    by the q174 oracle and tests/test_similarity.py)."""
    coarse, rcb, _codes = read_ivfpq_index(spark, index_dir)
    res, best = ivfpq_assign_encode(embeddings, coarse, rcb)
    return _encode_rows(res, best)


#: elbow-curve k grid for the coarse quantizer capacity audit
ELBOW_KS = (2, 4, 8)


def kmeans_elbow(embeddings: DataFrame) -> DataFrame:
    """Inertia-vs-k elbow report for the full-dim coarse quantizer:
    train the shared Lloyd trainer at each k in ELBOW_KS (same rounds /
    train-sample as the production IVF build), assign EVERY vector to
    its nearest centroid, and report total inertia, mean distortion,
    and the relative inertia drop vs the previous k. This is the
    capacity-sizing audit behind IVF_K: the elbow says whether the
    index's cell count is spending its clusters well (q155 reports the
    balance of ONE k; this prices the alternatives). Each k is an
    independent bounded training (dim-sized collects, broadcast
    codebooks); the union is |ELBOW_KS| rows; the drop-vs-prev join is
    a 3-row broadcast self-join on a literal k map (no global window).
    Inertia sums pre-rounded d2 and re-rounds to 4dp — float-addition
    order error is ~1e-10 at test scale, far inside the rounding grid.

    All |ELBOW_KS| trainings run in ONE stacked Lloyd loop: the trainer
    is keyed by subspace ``s``, so relabeling each k's copy of the
    corpus as s=k trains every codebook in the SAME rounds — one job
    per round instead of one per k, and one assign pass at the end
    instead of |ELBOW_KS|. Per-k results are identical to independent
    trainings (every agg and argmin is (s, cid)-keyed).
    """
    sub0 = _fulldim_sub(embeddings)
    stacked = None
    seed = None
    for k in ELBOW_KS:
        sk = sub0.withColumn("s", F.lit(k))
        sd = sub0.filter(F.col("vec_id") < k).select(
            F.lit(k).alias("s"),
            F.col("vec_id").alias("cid"),
            F.col("subvec").alias("cvec"),
        )
        stacked = sk if stacked is None else stacked.unionByName(sk)
        seed = sd if seed is None else seed.unionByName(sd)
    cb = _lloyd_codebook(
        stacked, 0, IVF_KMEANS_ROUNDS, IVF_TRAIN_MOD, seed=seed
    )
    assigned = _pq_assign_to(stacked, cb)
    out = assigned.groupBy(F.col("s").cast("int").alias("k")).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(F.sum(F.round(F.col("d2"), 6)), 4).alias("inertia"),
        F.round(F.avg(F.round(F.col("d2"), 6)), 6).alias("avg_d2"),
    )
    prev_k = F.when(F.col("k") == ELBOW_KS[1], ELBOW_KS[0])
    for i in range(2, len(ELBOW_KS)):
        prev_k = prev_k.when(F.col("k") == ELBOW_KS[i], ELBOW_KS[i - 1])
    e = out.withColumn("pk", prev_k)
    p = out.select(
        F.col("k").alias("pk"), F.col("inertia").alias("prev_inertia")
    )
    return e.join(F.broadcast(p), "pk", "left").select(
        F.col("k").cast("int").alias("k"),
        "n_vecs",
        "inertia",
        "avg_d2",
        F.round(
            (F.col("prev_inertia") - F.col("inertia"))
            / F.col("prev_inertia"),
            6,
        ).alias("drop_vs_prev"),
    )


def kmeans_elbow_sql() -> str:
    """DuckDB twin of :func:`kmeans_elbow` — one codebook CTE chain per
    k (prefixed), unrolled from the same constants."""
    l2 = (
        "list_sum(list_transform(list_zip(t.subvec, c.cvec), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    parts = [
        """sub AS (
        SELECT vec_id, 0 AS s,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS subvec
        FROM embeddings
    )"""
    ]
    for k in ELBOW_KS:
        parts.append(
            pq_codebook_ctes(
                k=k,
                rounds=IVF_KMEANS_ROUNDS,
                train_mod=IVF_TRAIN_MOD,
                dsub=EMBEDDING_DIM,
                prefix=f"k{k}_",
            )
        )
        parts.append(
            f"""k{k}_inert AS (
        SELECT {k} AS k, CAST(count(*) AS BIGINT) AS n_vecs,
               round(sum(round(d2, 6)), 4) AS inertia,
               round(avg(round(d2, 6)), 6) AS avg_d2
        FROM (
            SELECT vec_id, d2 FROM (
                SELECT t.vec_id, c.cid, {l2} AS d2,
                       row_number() OVER (
                           PARTITION BY t.vec_id ORDER BY {l2}, c.cid) AS rn
                FROM sub t JOIN k{k}_cb c ON c.s = t.s
            ) WHERE rn = 1
        ))"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM k{k}_inert" for k in ELBOW_KS)
    prev = " ".join(
        f"WHEN {ELBOW_KS[i]} THEN {ELBOW_KS[i - 1]}"
        for i in range(1, len(ELBOW_KS))
    )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    elbow AS ({union})
    SELECT CAST(e.k AS INT) AS k, e.n_vecs, e.inertia, e.avg_d2,
           round((p.inertia - e.inertia) / p.inertia, 6) AS drop_vs_prev
    FROM elbow e
    LEFT JOIN elbow p ON p.k = CASE e.k {prev} END
    """
