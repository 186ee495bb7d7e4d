"""Embedding storage/serving economics queries (q181-q183): the
audits a large embedding store runs before sealing a layout —
semantic eval contamination, int8 quantization loss, and the
Matryoshka dimension-budget recall curve. Operators live in
``operators/embedquant.py``; each query pairs with a DuckDB oracle
built from the SAME Python constants (one spec, two engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whale_sightings_spark.operators import embedquant as EQ
from whale_sightings_spark.plans.queries import register
from whale_sightings_spark.schemas import load_table
from whale_sightings_spark.session import barrier


# ---------------------------------------------------------------------------
# q181 — semantic eval-contamination screen: embedding-space twin of
# the lexical q119. A paraphrased benchmark answer shares no 3-grams
# with its source but sits next to it in embedding space; this flags
# train vectors whose max cosine against the broadcast held-out probe
# set crosses the threshold, reported per label cell. One corpus
# scan; probe set broadcast; report is label-cardinality-sized.
# ---------------------------------------------------------------------------


@register("q181_semantic_contamination", EQ.semantic_contamination_sql())
def q181_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EQ.semantic_contamination_audit(
        load_table(spark, sf_dir, "embeddings")
    )


# ---------------------------------------------------------------------------
# q182 — int8 affine quantization audit: per-dimension bounds, scale,
# and round-trip reconstruction error (RMSE + max |err|). The go/no-go
# report before swapping the float32 embedding store for a 4x-smaller
# int8 layout — run it per corpus snapshot, gate on max_abs_err
# against the ANN margin q183 measures. Two passes, nothing row-scale
# shuffles (per-dim partial aggs only).
# ---------------------------------------------------------------------------


@register("q182_int8_quant_audit", EQ.int8_quantization_sql())
def q182_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EQ.int8_quantization_audit(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q183 — Matryoshka truncated-dimension recall: recall@5 when search
# is served from the first 8/16/32 of 64 dims vs the full-dimension
# exact top-k. The dim-budget tuning curve for MRL-style embeddings:
# halving served dims halves scan bytes AND memory bandwidth, and this
# query prices the recall cost. Same broadcast-query / WindowGroupLimit
# harness as q116.
# ---------------------------------------------------------------------------


@register("q183_matryoshka_recall", EQ.truncated_dim_recall_sql())
def q183_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EQ.truncated_dim_recall(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q187 — PCA top principal component by fixed-round power iteration:
# one d^2-per-row covariance pass (partial-aggregated to 4096 cells —
# the only corpus-scale work), then 8 deterministic iteration rounds
# over the collected d x d matrix, 12-dp rounded per round so the
# driver math and the SQL-unrolled oracle agree exactly. The fit step
# for whitening / dimensionality reduction / embedding-drift
# monitoring; q183 prices serving fewer dims, this computes the basis
# you'd actually project onto.
# ---------------------------------------------------------------------------


@register("q187_pca_top_component", EQ.pca_top_component_sql())
def q187_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EQ.pca_top_component(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q192 — cluster-separation matrix: pairwise cosine between label-cell
# CENTROIDS. q110 audits within-cell cohesion; this audits the other
# axis — two cells whose centroids point the same way will leak into
# each other's IVF probes (q151's tail) and confuse cell-keyed
# semantic dedup. Centroids stay in LONG (label, dim, v) form: the
# pairwise dot is a dim-keyed join over label-cardinality² rows — no
# array assembly, no corpus rescans (one explode pass feeds
# everything). Per-dim centroid components round to 6dp before any
# product so both engines share one grid.
# ---------------------------------------------------------------------------

@register(
    "q192_centroid_separation",
    """
    WITH comp AS (
        SELECT label, d.i AS dim,
               round(avg(CAST(embedding[d.i] AS DOUBLE)), 6) AS v
        FROM embeddings,
             LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) d
        GROUP BY label, d.i
    ),
    nrm AS (
        SELECT label, sqrt(sum(v * v)) AS nrm FROM comp GROUP BY label
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b, sum(a.v * b.v) AS dot
        FROM comp a JOIN comp b ON b.dim = a.dim AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT d.label_a, d.label_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS centroid_cos
    FROM dots d
    JOIN nrm na ON na.label = d.label_a
    JOIN nrm nb ON nb.label = d.label_b
    """,
)
def q192_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # (label x dim)-cardinality, referenced three times (norms + both
    # dot-product sides) — each replayed the corpus posexplode + agg
    comp = (
        emb.select("label", F.posexplode("embedding").alias("p", "x"))
        .groupBy("label", (F.col("p") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("v"))
        .transform(barrier)
    )
    nrm = comp.groupBy("label").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
    a = comp.select(F.col("label").alias("label_a"), "dim", F.col("v").alias("va"))
    b = comp.select(F.col("label").alias("label_b"), "dim", F.col("v").alias("vb"))
    dots = (
        a.join(b, (a["dim"] == b["dim"]) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "centroid_cos"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q193 — int8 serving recall: recall@5 with the corpus served from
# int8 codes (queries stay float — the asymmetric convention). The
# third leg of the quantization story: q182 = reconstruction error,
# q183 = dimension budget, q193 = the recall the 4x-smaller store
# actually delivers. Long-form decode + dim-keyed score join; no
# array re-assembly.
# ---------------------------------------------------------------------------


@register("q193_int8_serving_recall", EQ.int8_serving_recall_sql())
def q193_int8_serving_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EQ.int8_serving_recall(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q199 — MMR diversified top-k re-rank (Carbonell & Goldstein 1998):
# the post-retrieval stage a RAG stack runs so its k contexts aren't k
# near-copies of one passage. Greedy: pick 1 = argmax relevance; pick
# r = argmax λ·rel − (1−λ)·max-sim-to-selected over the remaining
# candidate pool. One corpus-scale stage (the q17 relevance scan +
# WindowGroupLimit top-pool); the K greedy rounds run over the bounded
# |Q|×pool frame with the selected set broadcast — the q112
# driver-loop convention. All sims 6dp-rounded before the greedy so
# both engines' argmax compare identical doubles; the oracle unrolls
# the same rounds from the same constants.
# (operators/similarity.mmr_topk; diversity property pinned in
# tests/test_similarity.py)
# ---------------------------------------------------------------------------

from whale_sightings_spark.operators import similarity as SIM  # noqa: E402


@register("q199_mmr_rerank", SIM.mmr_topk_sql())
def q199_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.mmr_topk(load_table(spark, sf_dir, "embeddings"))
