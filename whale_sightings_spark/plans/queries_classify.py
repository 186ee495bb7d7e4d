"""Registered queries: trained quality classifiers (operators/classify).

The curation surface so far scores documents with FIXED rules (q97
quality screens, q125 signal ensemble, q185/q216 LM perplexity).  A
production stack's next move is to DISTILL those rules into a trained
model and score the corpus with that (the GPT-3 / CCNet recipe): weak
labels from the heuristic, a cheap linear model, corpus-wide
inference.  q226-q228 run that loop entirely in-engine:

- q226 trains multinomial Naive Bayes over tokens against the
  weak labels and reports the held-out confusion per source;
- q227 evaluates the same scorer threshold-free: histogram ROC-AUC
  (256 fixed bins, rank comparison via a bin×bin join — no global
  window, no per-row ranking);
- q228 trains logistic regression by 6 full-batch GD steps — each
  step one aggregation job; weights are 6dp-quantized between steps
  so the unrolled DuckDB twin sees bit-identical state per round.

No reference parity to cite: the reference engine has no trainable
operator; this extends the net-new LLM-pipeline surface (brief §"text
analysis").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whale_sightings_spark.operators import classify as CL
from whale_sightings_spark.plans.queries import register
from whale_sightings_spark.plans.store_utils import artifact_dir
from whale_sightings_spark.schemas import load_table
from whale_sightings_spark.session import barrier

# ---------------------------------------------------------------------------
# q226 — Naive Bayes weak-label distillation, held-out confusion per
# source.  Hash-based held-out split (stratified across sources); the
# per-token class counts are the model (vocab-bounded, min-count
# floored); scoring = exploded tokens ⋈ BROADCAST vocab + one per-doc
# keyed agg.  Classification is sign(log-odds) on the raw double —
# the score is a sum of irrational log terms, so a cross-engine tie
# at exactly 0 cannot occur.  Scale: 2 corpus-scale token aggs + one
# per-doc agg; nothing driver-side; broadcast side bounded by the
# min-count floor, not the corpus.
# ---------------------------------------------------------------------------

_CONF_CELLS = (
    ("tp", "y = 1 AND score > 0"),
    ("fp", "y = 0 AND score > 0"),
    ("fn", "y = 1 AND score <= 0"),
    ("tn", "y = 0 AND score <= 0"),
)


@register(
    "q226_nb_weak_classifier",
    f"""
    WITH {CL.nb_ctes()}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_test,
           {', '.join(
               f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
               f" AS {name}" for name, cond in _CONF_CELLS)},
           round(avg(CASE WHEN (score > 0) = (y = 1)
                          THEN 1.0 ELSE 0.0 END), 4) AS accuracy
    FROM nb_scored
    GROUP BY source
    """,
)
def q226_nb_weak_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = CL.nb_heldout_scores(docs)
    pos = F.col("score") > 0
    y1 = F.col("y") == 1
    cells = {
        "tp": y1 & pos,
        "fp": ~y1 & pos,
        "fn": y1 & ~pos,
        "tn": ~y1 & ~pos,
    }
    return scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_test"),
        *[
            F.sum(cond.cast("int")).cast("bigint").alias(name)
            for name, cond in cells.items()
        ],
        F.round(
            F.avg(F.when(pos == y1, F.lit(1.0)).otherwise(F.lit(0.0))), 4
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# q227 — threshold-free evaluation of the NB scorer: ROC-AUC over a
# 256-bin score histogram.  The textbook rank-sum AUC needs a global
# ordering of the corpus (a single-partition window — fatal at
# scale); binning first makes the rank comparison a bin×bin join over
# a 256-row aggregate: AUC = (Σ_{{b<b'}} neg_b·pos_b' + ½·Σ_b
# neg_b·pos_b) / (P·N), exact given the binning.  Scores are rounded
# 4dp BEFORE binning (round-inputs-first) so both engines bin
# identical doubles.  Scale: the per-doc scorer is q226's shape; the
# histogram agg is one shuffle; everything after runs on ≤256 rows.
# ---------------------------------------------------------------------------

_AUC_LO = -16.0
_AUC_HI = 16.0
_AUC_BINS = 256
_AUC_W = (_AUC_HI - _AUC_LO) / _AUC_BINS

_BIN_SQL = (
    f"least({_AUC_BINS - 1}, greatest(0, CAST(floor("
    f"(round(score, 4) - ({_AUC_LO})) / {_AUC_W}) AS INT)))"
)


@register(
    "q227_auc_weak_classifier",
    f"""
    WITH {CL.nb_ctes()},
    hist AS (
        SELECT {_BIN_SQL} AS bin,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(1 - y) AS BIGINT) AS n_neg
        FROM nb_scored GROUP BY 1
    ),
    tot2 AS (
        SELECT sum(n_pos) AS p, sum(n_neg) AS n,
               count(*) AS n_bins
        FROM hist
    ),
    below AS (
        SELECT coalesce(sum(a.n_neg * b.n_pos), 0) AS concordant
        FROM hist a JOIN hist b ON a.bin < b.bin
    ),
    ties AS (SELECT sum(n_pos * n_neg) AS tied FROM hist)
    SELECT CAST(t.p AS BIGINT) AS n_pos,
           CAST(t.n AS BIGINT) AS n_neg,
           CAST(t.n_bins AS BIGINT) AS n_bins_used,
           round((b.concordant + 0.5 * ti.tied) * 1.0 / (t.p * t.n), 4)
               AS auc_hist
    FROM tot2 t, below b, ties ti
    """,
)
def q227_auc_weak_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scorer served from the q229 stored model (training is
    # deterministic, so stored == fresh fit — pinned by
    # test_nb_stored_model_matches_fresh_fit); q226 keeps the inline
    # trainer as the contrast/sign-off case (the q161-vs-q173 shape)
    docs = load_table(spark, sf_dir, "documents")
    scored = CL.nb_score_from_store(
        docs.filter(CL.is_held(F.col("doc_id"))),
        spark,
        _nb_artifact_dir(spark, sf_dir),
    )
    bin_col = F.least(
        F.lit(_AUC_BINS - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.round(F.col("score"), 4) - F.lit(_AUC_LO)) / F.lit(_AUC_W)
            ).cast("int"),
        ),
    )
    hist = (
        scored.select(bin_col.alias("bin"), "y")
        .groupBy("bin")
        .agg(
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(1 - F.col("y")).cast("bigint").alias("n_neg"),
        )
        .transform(barrier)  # ≤256 rows; 3 consumers
    )
    tot2 = hist.agg(
        F.sum("n_pos").alias("p"),
        F.sum("n_neg").alias("n"),
        F.count("*").alias("n_bins"),
    )
    a = hist.alias("a")
    b = hist.alias("b")
    below = (
        a.join(F.broadcast(b), F.col("a.bin") < F.col("b.bin"))
        .agg(
            F.coalesce(
                F.sum(F.col("a.n_neg") * F.col("b.n_pos")), F.lit(0)
            ).alias("concordant")
        )
    )
    ties = hist.agg(F.sum(F.col("n_pos") * F.col("n_neg")).alias("tied"))
    return (
        tot2.crossJoin(F.broadcast(below))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("p").cast("bigint").alias("n_pos"),
            F.col("n").cast("bigint").alias("n_neg"),
            F.col("n_bins").cast("bigint").alias("n_bins_used"),
            F.round(
                (F.col("concordant") + 0.5 * F.col("tied"))
                * F.lit(1.0)
                / (F.col("p") * F.col("n")),
                4,
            ).alias("auc_hist"),
        )
    )


# ---------------------------------------------------------------------------
# q228 — logistic regression by full-batch gradient descent: 6 fixed
# steps, lr=2, features = the same bounded [0,1] signals the weak
# rule reads (length / stopword / token-length terms), so the fit is
# a genuine rule distillation.  Each step is ONE aggregation job
# (map-side partial sums of (σ(w·x)−y)·x); only 4 gradient scalars
# reach the driver per step (the BPE-argmax collect class), and the
# updated weights re-enter the plan as 6dp-quantized literals — so
# the unrolled DuckDB twin consumes bit-identical weights per round
# and summation-order ulps cannot compound.  Output: final weights +
# held-out accuracy/log-loss.
# ---------------------------------------------------------------------------

def _feat_cte() -> str:
    x1, x2, x3 = CL.logreg_features_sql("text")
    return f"""f AS (
        SELECT doc_id,
               {CL.weak_label_sql('text')} AS y,
               {x1} AS x1, {x2} AS x2, {x3} AS x3,
               NOT {CL.is_held_sql()} AS is_train
        FROM documents
    )"""


@register(
    "q228_logreg_gd",
    f"""
    WITH {CL.logreg_steps_ctes(_feat_cte())},
    scored AS (
        SELECT f.y,
               w0 * 1.0 + w1 * x1 + w2 * x2 + w3 * x3 AS z,
               w0, w1, w2, w3
        FROM f CROSS JOIN s{CL.LOGREG_STEPS}
        WHERE NOT is_train
    )
    SELECT any_value(w0) AS w0, any_value(w1) AS w1,
           any_value(w2) AS w2, any_value(w3) AS w3,
           CAST(count(*) AS BIGINT) AS n_test,
           round(avg(CASE WHEN (z > 0) = (y = 1)
                          THEN 1.0 ELSE 0.0 END), 4) AS accuracy,
           round(avg(-(y * ln(1.0 / (1.0 + exp(-z)))
                       + (1 - y) * ln(1.0 - 1.0 / (1.0 + exp(-z))))),
                 4) AS logloss
    FROM scored
    """,
)
def q228_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    xs = CL.logreg_features(F.col("text"))
    feats = docs.select(
        "doc_id",
        CL.weak_label(F.col("text")).alias("y"),
        *[x.alias(f"x{j + 1}") for j, x in enumerate(xs)],
        (~CL.is_held(F.col("doc_id"))).alias("is_train"),
    ).transform(barrier)  # 6 GD collects + eval
    w = CL.logreg_fit(feats.filter("is_train"))
    z = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    held = feats.filter(~F.col("is_train")).select("y", z.alias("z"), p.alias("p"))
    metrics = held.agg(
        F.count("*").cast("bigint").alias("n_test"),
        F.round(
            F.avg(
                F.when((F.col("z") > 0) == (F.col("y") == 1), F.lit(1.0))
                .otherwise(F.lit(0.0))
            ),
            4,
        ).alias("accuracy"),
        F.round(
            F.avg(
                -(
                    F.col("y") * F.log("p")
                    + (1 - F.col("y")) * F.log(F.lit(1.0) - F.col("p"))
                )
            ),
            4,
        ).alias("logloss"),
    )
    return metrics.select(
        F.lit(w[0]).alias("w0"),
        F.lit(w[1]).alias("w1"),
        F.lit(w[2]).alias("w2"),
        F.lit(w[3]).alias("w3"),
        "n_test",
        "accuracy",
        "logloss",
    )


# ---------------------------------------------------------------------------
# q229 — the trained classifier as a PERSISTED ARTIFACT (the
# q172/q176 build-once/serve-many convention, third shipped artifact):
# build-if-absent, then score the WHOLE corpus from the stored model
# tables — the production shape, where training is rare and cheap but
# inference runs over all 100 TB.  The serving plan's only
# corpus-scale work is token-stream ⋈ broadcast stored vocab (a
# pytest asserts it scans the artifact and contains no training
# aggregations).  Oracle retrains in SQL — training is deterministic,
# so the stored model is bit-identical to a fresh fit.
# ---------------------------------------------------------------------------


def _nb_artifact_dir(spark: SparkSession, sf_dir: str) -> str:
    """The trained-NB store over ``sf_dir``'s documents; the build
    writes ``meta`` last, so its ``_SUCCESS`` marks a finished
    build."""
    return artifact_dir(
        sf_dir,
        "documents.parquet",
        "nb",
        CL.NB_FORMAT_VERSION,
        lambda d: CL.nb_artifact_paths(d)[1],
        lambda staging: CL.build_nb_artifact(
            load_table(spark, sf_dir, "documents"), staging
        ),
    )


@register(
    "q229_nb_model_serve",
    f"""
    WITH {CL.nb_ctes(score="all")}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_pos,
           round(avg(CASE WHEN score > 0 THEN 1.0 ELSE 0.0 END), 4)
               AS pred_pos_share,
           round(avg(CASE WHEN (score > 0) = (y = 1)
                          THEN 1.0 ELSE 0.0 END), 4) AS agree_weak_rule
    FROM nb_scored
    GROUP BY source
    """,
)
def q229_nb_model_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = CL.nb_score_from_store(docs, spark, _nb_artifact_dir(spark, sf_dir))
    pos = F.col("score") > 0
    return scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(pos.cast("int")).cast("bigint").alias("n_pred_pos"),
        F.round(
            F.avg(F.when(pos, F.lit(1.0)).otherwise(F.lit(0.0))), 4
        ).alias("pred_pos_share"),
        F.round(
            F.avg(
                F.when(pos == (F.col("y") == 1), F.lit(1.0)).otherwise(
                    F.lit(0.0)
                )
            ),
            4,
        ).alias("agree_weak_rule"),
    )


# ---------------------------------------------------------------------------
# q230 — calibration audit (reliability diagram + ECE): a classifier
# that gates 100 TB of training data must be CALIBRATED, not just
# accurate — a 0.9-confidence bucket should be right ~90% of the
# time.  p̂ = σ(log-odds) on the held-out split, binned on a fixed
# 10-cell probability grid (row-local; the log-odds is rounded 4dp
# BEFORE σ and p̂ rounded 4dp before binning — round-inputs-first, so
# both engines bin identical doubles).  Per bin: confidence vs
# observed rate and the |gap|; ECE (the n-weighted gap sum) rides
# along via a broadcast 1-row join.  Scale: q226's scorer + one
# 10-key agg; everything after runs on ≤10 rows.
# ---------------------------------------------------------------------------

_CAL_BINS = 10

_CAL_P_SQL = "round(1.0 / (1.0 + exp(-round(score, 4))), 4)"
_CAL_BIN_SQL = (
    f"least({_CAL_BINS - 1}, CAST(floor({_CAL_P_SQL} * {_CAL_BINS}) AS INT))"
)


@register(
    "q230_nb_calibration",
    f"""
    WITH {CL.nb_ctes()},
    binned AS (
        SELECT {_CAL_BIN_SQL} AS bin, {_CAL_P_SQL} AS p, y
        FROM nb_scored
    ),
    cells AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               round(avg(p), 4) AS confidence,
               round(avg(CAST(y AS DOUBLE)), 4) AS observed_rate
        FROM binned GROUP BY bin
    ),
    ece AS (
        SELECT round(sum(n * abs(confidence - observed_rate))
                     / sum(n), 4) AS ece
        FROM cells
    )
    SELECT c.bin, c.n, c.confidence, c.observed_rate,
           round(abs(c.confidence - c.observed_rate), 4) AS gap,
           e.ece
    FROM cells c CROSS JOIN ece e
    """,
)
def q230_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # served from the q229 stored model (see q227)
    docs = load_table(spark, sf_dir, "documents")
    scored = CL.nb_score_from_store(
        docs.filter(CL.is_held(F.col("doc_id"))),
        spark,
        _nb_artifact_dir(spark, sf_dir),
    )
    p = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(F.col("score"), 4))), 4
    )
    binned = scored.select(
        F.least(
            F.lit(_CAL_BINS - 1),
            F.floor(p * _CAL_BINS).cast("int"),
        ).alias("bin"),
        p.alias("p"),
        "y",
    )
    cells = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("p"), 4).alias("confidence"),
        F.round(F.avg(F.col("y").cast("double")), 4).alias("observed_rate"),
    ).transform(barrier)  # ≤10 rows; ECE side
    ece = cells.agg(
        F.round(
            F.sum(
                F.col("n")
                * F.abs(F.col("confidence") - F.col("observed_rate"))
            )
            / F.sum("n"),
            4,
        ).alias("ece")
    )
    return cells.crossJoin(F.broadcast(ece)).select(
        "bin",
        "n",
        "confidence",
        "observed_rate",
        F.round(F.abs(F.col("confidence") - F.col("observed_rate")), 4).alias(
            "gap"
        ),
        "ece",
    )


# ---------------------------------------------------------------------------
# q235 — classifier-gated mixing plan (capstone): the quality gate
# (q229's stored model) composed with token accounting (q119's
# counter) into the sampling plan the trainer actually consumes —
# docs failing the gate drop, surviving per-source token masses get
# q201-style temperature flattening (α=0.7).  One corpus pass for
# scores, one for token counts, joined per-doc then collapsed to the
# source-sized plan; the normalizer is a 1-row broadcast.
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.7

from whale_sightings_spark.functions.text import (  # noqa: E402
    token_count_sql as _tc_sql,
    tokens_sql as _tok_sql,
)


@register(
    "q235_gated_mixing_plan",
    f"""
    WITH {CL.nb_ctes(score="all")},
    toks AS (
        SELECT doc_id, CAST({_tc_sql('text')} AS BIGINT)
                   AS n_toks
        FROM documents
    ),
    gated AS (
        SELECT s.source, s.score > 0 AS kept, t.n_toks
        FROM nb_scored s JOIN toks t ON t.doc_id = s.doc_id
    ),
    per_src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(n_toks) AS BIGINT) AS tok_total,
               CAST(sum(CASE WHEN kept THEN n_toks ELSE 0 END) AS BIGINT)
                   AS tok_kept
        FROM gated GROUP BY source
    ),
    z AS (SELECT sum(power(tok_kept, {_MIX_ALPHA})) AS z FROM per_src)
    SELECT p.source, p.n_docs, p.n_kept, p.tok_kept,
           round(p.tok_kept * 1.0 / p.tok_total, 6) AS kept_token_share,
           round(power(p.tok_kept, {_MIX_ALPHA}) / z.z, 6) AS weight
    FROM per_src p CROSS JOIN z
    """,
)
def q235_gated_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.text import token_count, tokens

    # r12 (guide §2.3/§2.4): scoring and token accounting used two
    # corpus scans (each with its own tokenize) joined back on doc_id —
    # a corpus-doc-scale shuffle join. One pass now carries both:
    # n_toks rides the score aggregation as a grouping key (it is
    # functionally dependent on doc_id, so the groups — and the score
    # sums — are unchanged), and the weak label y (a quality_score
    # pass this query never reads) is dropped from the plan.
    docs = load_table(spark, sf_dir, "documents")
    vt, meta = CL.nb_stored_model(spark, _nb_artifact_dir(spark, sf_dir))
    dtok = (
        docs.select(
            "doc_id",
            "source",
            token_count(F.col("text")).cast("bigint").alias("n_toks"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    scored = (
        dtok.join(F.broadcast(vt), "tok", "left")
        .crossJoin(F.broadcast(meta))
        .groupBy("doc_id", "source", "n_toks")
        .agg(
            (
                F.first("prior")
                + F.sum(F.coalesce(F.col("llr"), F.col("oov")))
            ).alias("score")
        )
    )
    gated = scored.select(
        "source", (F.col("score") > 0).alias("kept"), "n_toks"
    )
    per_src = gated.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
        F.sum("n_toks").cast("bigint").alias("tok_total"),
        F.sum(F.when(F.col("kept"), F.col("n_toks")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("tok_kept"),
    ).transform(barrier)  # source-sized; normalizer + output
    z = per_src.agg(
        F.sum(F.pow(F.col("tok_kept"), F.lit(_MIX_ALPHA))).alias("z")
    )
    return per_src.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_kept",
        "tok_kept",
        F.round(
            F.col("tok_kept") * F.lit(1.0) / F.col("tok_total"), 6
        ).alias("kept_token_share"),
        F.round(
            F.pow(F.col("tok_kept"), F.lit(_MIX_ALPHA)) / F.col("z"), 6
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# q238 — classifier retrain-drift audit (the q188/q160 lifecycle step
# for the THIRD artifact): train the NB model on the history slice
# (doc_id < _NBD_SPLIT — in production, a snapshot timestamp) and on
# the full corpus, then report the top-K tokens whose log-likelihood
# ratio moved most, plus vocab growth — the diff a team reviews
# before promoting a retrained quality model.  Drift is computed from
# the 6dp-ROUNDED llrs in both engines (round-inputs-first: the
# q196-class guard), ranked drift-desc/tok-asc via TakeOrdered.
# Scale: two vocab-bounded trainings + a vocab-keyed join; the
# summary is three broadcast scalars.
# ---------------------------------------------------------------------------

_NBD_SPLIT = 250
_NBD_TOPK = 10


@register(
    "q238_nb_retrain_drift",
    f"""
    WITH {CL.nb_model_ctes(prefix="h_", where=f"doc_id < {_NBD_SPLIT}")},
    {CL.nb_model_ctes(prefix="g_")},
    joined AS (
        SELECT g.tok,
               round(h.llr, 6) AS llr_hist,
               round(g.llr, 6) AS llr_full,
               round(abs(round(g.llr, 6) - round(h.llr, 6)), 6) AS drift
        FROM g_vt g JOIN h_vt h ON h.tok = g.tok
    ),
    summary AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM h_vt) AS n_vocab_hist,
               (SELECT CAST(count(*) AS BIGINT) FROM g_vt) AS n_vocab_full,
               (SELECT CAST(count(*) AS BIGINT) FROM g_vt
                WHERE tok NOT IN (SELECT tok FROM h_vt)) AS n_new_tokens
    )
    SELECT j.tok, j.llr_hist, j.llr_full, j.drift,
           s.n_vocab_hist, s.n_vocab_full, s.n_new_tokens
    FROM joined j CROSS JOIN summary s
    ORDER BY j.drift DESC, j.tok
    LIMIT {_NBD_TOPK}
    """,
)
def q238_nb_retrain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.3 "aggregate before you shuffle" / one pass instead
    # of two): the two trainings differ only by the doc_id < split
    # predicate, so ONE corpus tokenize + ONE vocab agg carries both
    # models as conditional sums. Every per-token count and every model
    # total is an exact integer (y ∈ {0,1} summed), so the conditional
    # sums equal the two independent trainings bit-for-bit, and the llr
    # arithmetic below is the nb_train expression verbatim per side.
    docs = load_table(spark, sf_dir, "documents")
    lab = CL._labelled(docs).filter(~CL.is_held(F.col("doc_id")))
    hist = (F.col("doc_id") < _NBD_SPLIT).cast("double")
    tt = (
        lab.select("y", (F.col("y") * hist).alias("yh"), hist.alias("h"),
                   F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
    )
    counts = (
        tt.groupBy("tok")
        .agg(
            F.sum("y").cast("double").alias("c1f"),
            F.sum(1 - F.col("y")).cast("double").alias("c0f"),
            F.sum("yh").alias("c1h"),
            F.sum(F.col("h") - F.col("yh")).alias("c0h"),
        )
        .withColumn("full_ok", F.col("c1f") + F.col("c0f") >= CL.NB_MIN_COUNT)
        .withColumn("hist_ok", F.col("c1h") + F.col("c0h") >= CL.NB_MIN_COUNT)
        .filter(F.col("full_ok") | F.col("hist_ok"))
        .transform(barrier)  # vocab-sized; llr + summary
    )
    tot = counts.agg(
        F.sum(F.when(F.col("full_ok"), F.col("c1f"))).alias("n1f"),
        F.sum(F.when(F.col("full_ok"), F.col("c0f"))).alias("n0f"),
        F.sum(F.col("full_ok").cast("long")).cast("double").alias("vf"),
        F.sum(F.when(F.col("hist_ok"), F.col("c1h"))).alias("n1h"),
        F.sum(F.when(F.col("hist_ok"), F.col("c0h"))).alias("n0h"),
        F.sum(F.col("hist_ok").cast("long")).cast("double").alias("vh"),
        F.sum(F.col("hist_ok").cast("long")).cast("bigint").alias("n_vocab_hist"),
        F.sum(F.col("full_ok").cast("long")).cast("bigint").alias("n_vocab_full"),
        F.sum((F.col("full_ok") & ~F.col("hist_ok")).cast("long"))
        .cast("bigint")
        .alias("n_new_tokens"),
    )
    joined = (
        counts.filter(F.col("full_ok") & F.col("hist_ok"))
        .crossJoin(F.broadcast(tot))
        .select(
            "tok",
            F.round(
                F.log((F.col("c1h") + 1.0) / (F.col("n1h") + F.col("vh")))
                - F.log((F.col("c0h") + 1.0) / (F.col("n0h") + F.col("vh"))),
                6,
            ).alias("llr_hist"),
            F.round(
                F.log((F.col("c1f") + 1.0) / (F.col("n1f") + F.col("vf")))
                - F.log((F.col("c0f") + 1.0) / (F.col("n0f") + F.col("vf"))),
                6,
            ).alias("llr_full"),
            "n_vocab_hist",
            "n_vocab_full",
            "n_new_tokens",
        )
        .withColumn(
            "drift",
            F.round(F.abs(F.col("llr_full") - F.col("llr_hist")), 6),
        )
    )
    return (
        joined.orderBy(F.desc("drift"), F.asc("tok"))
        .limit(_NBD_TOPK)
        .select(
            "tok",
            "llr_hist",
            "llr_full",
            "drift",
            "n_vocab_hist",
            "n_vocab_full",
            "n_new_tokens",
        )
    )


# ---------------------------------------------------------------------------
# q239 — temperature scaling (the calibration FIX after q230's
# audit): fit a single temperature T by grid-search argmin of the
# held-out NLL of σ(score/T), then report ECE before (T=1) and after
# (T*) on the q230 probability grid.  The grid is a fixed 8-value
# literal array exploded row-local (8× the held-out rows, map-side,
# no shuffle) into one (T)-keyed agg; the argmin is a driver pick
# over 8 scalars (the BPE-argmax collect class) with NLL rounded 6dp
# + smaller-T tie-break so both engines choose the same T.  Scores
# come from the stored model (q229's serve path).
# ---------------------------------------------------------------------------

_TEMP_GRID = CL.NB_TEMP_GRID  # the grid the build-time fit persists


def _cal_p_sql(t_expr: str) -> str:
    return f"round(1.0 / (1.0 + exp(-round(score, 4) / ({t_expr}))), 4)"


def _cal_p_nll_sql(t_expr: str) -> str:
    # NLL-only clamp: the 4dp rounding can reach exactly 0.0/1.0 once
    # |score|/T >= ~4.95, and ln(0) crashes DuckDB while Spark's
    # F.log(0) returns NULL and silently drops the row from avg —
    # a data-dependent oracle crash + cross-engine divergence.  Clamp
    # identically in both engines before the logs; ECE paths take no
    # logarithm and stay unclamped.
    return f"least(1.0 - 1e-4, greatest(1e-4, {_cal_p_sql(t_expr)}))"


def _ece_cte_sql(name: str, t_expr: str) -> str:
    p = _cal_p_sql(t_expr)
    b = f"least(9, CAST(floor({p} * 10) AS INT))"
    return f"""{name}_bins AS (
        SELECT {b} AS bin, {p} AS p, y FROM nb_scored
    ),
    {name}_cells AS (
        SELECT bin, count(*) AS n, avg(p) AS conf,
               avg(CAST(y AS DOUBLE)) AS acc
        FROM {name}_bins GROUP BY bin
    ),
    {name} AS (
        SELECT round(sum(n * abs(conf - acc)) / sum(n), 4) AS ece
        FROM {name}_cells
    )"""


@register(
    "q239_temperature_scaling",
    f"""
    WITH {CL.nb_ctes()},
    grid AS (SELECT CAST(unnest([{', '.join(str(t) for t in _TEMP_GRID)}])
                     AS DOUBLE) AS t),
    nlls AS (
        SELECT g.t,
               round(avg(-(y * ln({_cal_p_nll_sql('g.t')})
                           + (1 - y) * ln(1.0 - {_cal_p_nll_sql('g.t')}))),
                     6) AS nll
        FROM nb_scored CROSS JOIN grid g
        GROUP BY g.t
    ),
    best AS (SELECT t, nll FROM nlls ORDER BY nll, t LIMIT 1),
    {_ece_cte_sql('ece_raw', '1.0')},
    {_ece_cte_sql('ece_cal', '(SELECT t FROM best)')}
    SELECT b.t AS best_t, b.nll AS nll_best,
           (SELECT CAST(count(*) AS BIGINT) FROM nb_scored) AS n_test,
           r.ece AS ece_before, c.ece AS ece_after
    FROM best b, ece_raw r, ece_cal c
    """,
)
def q239_temperature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = CL.nb_score_from_store(
        docs.filter(CL.is_held(F.col("doc_id"))),
        spark,
        _nb_artifact_dir(spark, sf_dir),
    ).select("y", "score").transform(barrier)

    # the fit itself is the shared build-time routine (one grid explode
    # + 8-group agg + 8-scalar collect) — q239 stays the AUDIT that the
    # grid search lands where the persisted artifact says it does
    best_t, best_nll = CL.fit_temperature(scored)

    def p_at(t):
        return CL.calibrated_p(F.col("score"), F.lit(float(t)))

    def ece_at(t):
        p = p_at(t)
        cells = (
            scored.select(
                F.least(
                    F.lit(9), F.floor(p * 10).cast("int")
                ).alias("bin"),
                p.alias("p"),
                "y",
            )
            .groupBy("bin")
            .agg(
                F.count("*").alias("n"),
                F.avg("p").alias("conf"),
                F.avg(F.col("y").cast("double")).alias("acc"),
            )
        )
        return cells.agg(
            F.round(
                F.sum(F.col("n") * F.abs(F.col("conf") - F.col("acc")))
                / F.sum("n"),
                4,
            ).alias("ece")
        )
    n_test = scored.agg(F.count("*").cast("bigint").alias("n_test"))
    return (
        ece_at(1.0)
        .withColumnRenamed("ece", "ece_before")
        .crossJoin(F.broadcast(ece_at(best_t).withColumnRenamed("ece", "ece_after")))
        .crossJoin(F.broadcast(n_test))
        .select(
            F.lit(best_t).alias("best_t"),
            F.lit(best_nll).alias("nll_best"),
            "n_test",
            "ece_before",
            "ece_after",
        )
    )


# ---------------------------------------------------------------------------
# q240 — split-balance audit for the classifier's held-out split:
# symmetric KL between the train and held-out unigram distributions
# (add-one smoothing over the union vocabulary).  A hash split is
# only *exchangeable*, not automatically *distributionally tight* at
# small n — this audit prices the actual divergence the q226/q227
# metrics inherit.  Scale: two token aggs collapsing to the bounded
# union vocabulary, a vocab-keyed full join, one scalar agg.
# ---------------------------------------------------------------------------


@register(
    "q240_split_balance_audit",
    f"""
    WITH toks AS (
        SELECT {CL.is_held_sql()} AS held,
               unnest({_tok_sql('text')}) AS tok
        FROM documents
    ),
    counts AS (
        SELECT tok,
               CAST(sum(CASE WHEN held THEN 0 ELSE 1 END) AS BIGINT) AS c_tr,
               CAST(sum(CASE WHEN held THEN 1 ELSE 0 END) AS BIGINT) AS c_he
        FROM toks WHERE tok <> '' GROUP BY tok
    ),
    tot AS (
        SELECT sum(c_tr) AS n_tr, sum(c_he) AS n_he,
               CAST(count(*) AS DOUBLE) AS v
        FROM counts
    ),
    p AS (
        SELECT (c.c_tr + 1.0) / (t.n_tr + t.v) AS p_tr,
               (c.c_he + 1.0) / (t.n_he + t.v) AS p_he,
               t.n_tr, t.n_he, t.v
        FROM counts c CROSS JOIN tot t
    )
    SELECT CAST(max(n_tr) AS BIGINT) AS n_train_tokens,
           CAST(max(n_he) AS BIGINT) AS n_held_tokens,
           CAST(max(v) AS BIGINT) AS vocab_union,
           round(sum(p_he * ln(p_he / p_tr)), 6) AS kl_held_train,
           round(sum(p_tr * ln(p_tr / p_he)), 6) AS kl_train_held,
           round(0.5 * sum(p_he * ln(p_he / p_tr))
                 + 0.5 * sum(p_tr * ln(p_tr / p_he)), 6) AS sym_kl
    FROM p
    """,
)
def q240_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        CL.is_held(F.col("doc_id")).alias("held"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("held"), 0).otherwise(1))
        .cast("bigint")
        .alias("c_tr"),
        F.sum(F.when(F.col("held"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_he"),
    )
    tot = counts.agg(
        F.sum("c_tr").alias("n_tr"),
        F.sum("c_he").alias("n_he"),
        F.count("*").cast("double").alias("v"),
    )
    p = counts.crossJoin(F.broadcast(tot)).select(
        ((F.col("c_tr") + 1.0) / (F.col("n_tr") + F.col("v"))).alias("p_tr"),
        ((F.col("c_he") + 1.0) / (F.col("n_he") + F.col("v"))).alias("p_he"),
        "n_tr",
        "n_he",
        "v",
    )
    kl_ht = F.sum(F.col("p_he") * F.log(F.col("p_he") / F.col("p_tr")))
    kl_th = F.sum(F.col("p_tr") * F.log(F.col("p_tr") / F.col("p_he")))
    return p.agg(
        F.max("n_tr").cast("bigint").alias("n_train_tokens"),
        F.max("n_he").cast("bigint").alias("n_held_tokens"),
        F.max("v").cast("bigint").alias("vocab_union"),
        F.round(kl_ht, 6).alias("kl_held_train"),
        F.round(kl_th, 6).alias("kl_train_held"),
        F.round(0.5 * kl_ht + 0.5 * kl_th, 6).alias("sym_kl"),
    )


# ---------------------------------------------------------------------------
# q241 — Good-Turing missing mass per source: the share of the NEXT
# token expected to be previously unseen, estimated by the singleton
# share N1/N (the Good-Turing first moment).  The coverage diagnostic
# behind OOV-rate planning (q141's OOV audit measures against a fixed
# vocab; this estimates the open-vocabulary tail itself).  Scale: one
# (source, tok) agg, one count-of-counts agg per source.
# ---------------------------------------------------------------------------


@register(
    "q241_good_turing_mass",
    f"""
    WITH tc AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT source,
                   unnest({_tok_sql('text')}) AS tok
            FROM documents
        )
        WHERE tok <> '' GROUP BY source, tok
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_doubletons,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / sum(c), 6)
               AS missing_mass
    FROM tc
    GROUP BY source
    """,
)
def q241_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 8: (source, tok) counts are an exact roll-up of the
    # persisted n-gram LM store's per-doc unigram counts — no
    # tokenize pass in this DAG (plans/lm_store.py).
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    tc = (
        LM.stored_doc_uni(spark, lm_artifact_dir(spark, sf_dir))
        .groupBy("source", "tok")
        .agg(F.sum("n").cast("bigint").alias("c"))
    )
    ones = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    twos = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        ones.cast("bigint").alias("n_singletons"),
        twos.cast("bigint").alias("n_doubletons"),
        F.round(ones * F.lit(1.0) / F.sum("c"), 6).alias("missing_mass"),
    )


# ---------------------------------------------------------------------------
# q242 — selective-classification curve: a production gate can
# ABSTAIN on low-confidence docs (route to a bigger model or a human)
# — this prices that option: at each |log-odds| threshold on a fixed
# grid, the held-out coverage (share decided) and the accuracy on the
# decided subset.  Monotone confidence→accuracy is exactly what q230
# calibration promises; this is the operating table a gate owner
# actually reads.  Same scale shape as q239: row-local grid explode
# (map-side Generate, no shuffle) into one threshold-keyed agg.
# ---------------------------------------------------------------------------

_SEL_GRID = (0.5, 0.6, 0.7, 0.8, 0.9, 0.95, 0.99)


@register(
    "q242_selective_accuracy_curve",
    f"""
    WITH {CL.nb_ctes()},
    grid8 AS (SELECT CAST(unnest([{', '.join(str(t) for t in _TEMP_GRID)}])
                      AS DOUBLE) AS t),
    nlls AS (
        SELECT g.t,
               round(avg(-(y * ln({_cal_p_nll_sql('g.t')})
                           + (1 - y) * ln(1.0 - {_cal_p_nll_sql('g.t')}))),
                     6) AS nll
        FROM nb_scored CROSS JOIN grid8 g
        GROUP BY g.t
    ),
    best AS (SELECT t, nll FROM nlls ORDER BY nll, t LIMIT 1),
    cal AS (
        SELECT y, score,
               {_cal_p_sql('(SELECT t FROM best)')} AS p_cal
        FROM nb_scored
    ),
    sgrid AS (SELECT CAST(unnest([{', '.join(str(t) for t in _SEL_GRID)}])
                     AS DOUBLE) AS tau),
    decided AS (
        SELECT g.tau,
               greatest(p_cal, 1.0 - p_cal) >= g.tau AS dec,
               (score > 0) = (y = 1) AS correct
        FROM cal CROSS JOIN sgrid g
    ),
    {_ece_cte_sql('ece_raw', '1.0')},
    {_ece_cte_sql('ece_cal', '(SELECT t FROM best)')}
    SELECT tau,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN dec THEN 1 ELSE 0 END) AS BIGINT)
               AS n_decided,
           round(avg(CASE WHEN dec THEN 1.0 ELSE 0.0 END), 4) AS coverage,
           round(CASE WHEN sum(CASE WHEN dec THEN 1 ELSE 0 END) > 0
                      THEN sum(CASE WHEN dec AND correct THEN 1.0
                               ELSE 0.0 END)
                           / sum(CASE WHEN dec THEN 1 ELSE 0 END)
                      ELSE 0.0 END, 4) AS selective_accuracy,
           (SELECT t FROM best) AS best_t,
           (SELECT ece FROM ece_raw) AS ece_before,
           (SELECT ece FROM ece_cal) AS ece_after
    FROM decided
    GROUP BY tau
    """,
)
def q242_selective_accuracy_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 8 (VERDICT r7 #4): the gate now operates on CALIBRATED
    probabilities served from the artifact — confidence is
    max(p_cal, 1-p_cal) with T read off the stored meta row (no grid
    search in the serving DAG, plan-asserted), thresholds live in
    probability space, and the before/after ECE rides along so the
    gate owner sees what calibration bought.  The oracle refits T from
    scratch (q239's grid) — its agreement with the served best_t
    column proves the persisted temperature matches a fresh fit."""
    docs = load_table(spark, sf_dir, "documents")
    scored = CL.nb_calibrated_scores_from_store(
        docs.filter(CL.is_held(F.col("doc_id"))),
        spark,
        _nb_artifact_dir(spark, sf_dir),
    ).select("y", "score", "p_cal").transform(barrier)
    conf = F.greatest(F.col("p_cal"), F.lit(1.0) - F.col("p_cal"))
    gridded = scored.select(
        "y",
        "score",
        F.explode(
            F.array(*[F.lit(float(t)) for t in _SEL_GRID])
        ).alias("tau"),
        conf.alias("conf"),
    ).select(
        "tau",
        (F.col("conf") >= F.col("tau")).alias("dec"),
        ((F.col("score") > 0) == (F.col("y") == 1)).alias("correct"),
    )

    def ece_over(p):
        cells = (
            scored.select(
                F.least(F.lit(9), F.floor(p * 10).cast("int")).alias("bin"),
                p.alias("p"),
                "y",
            )
            .groupBy("bin")
            .agg(
                F.count("*").alias("n"),
                F.avg("p").alias("conf"),
                F.avg(F.col("y").cast("double")).alias("acc"),
            )
        )
        return cells.agg(
            F.round(
                F.sum(F.col("n") * F.abs(F.col("conf") - F.col("acc")))
                / F.sum("n"),
                4,
            ).alias("ece")
        )

    ece_before = ece_over(
        CL.calibrated_p(F.col("score"), F.lit(1.0))
    ).withColumnRenamed("ece", "ece_before")
    ece_after = ece_over(F.col("p_cal")).withColumnRenamed(
        "ece", "ece_after"
    )
    # the served temperature, straight off the stored meta row
    _vt, meta = CL.nb_stored_model(spark, _nb_artifact_dir(spark, sf_dir))
    best_t = meta.select(F.col("temperature").alias("best_t"))
    n_dec = F.sum(F.when(F.col("dec"), 1).otherwise(0))
    return (
        gridded.groupBy("tau")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            n_dec.cast("bigint").alias("n_decided"),
            F.round(
                F.avg(F.when(F.col("dec"), F.lit(1.0)).otherwise(F.lit(0.0))),
                4,
            ).alias("coverage"),
            F.round(
                F.when(
                    n_dec > 0,
                    F.sum(
                        F.when(F.col("dec") & F.col("correct"), F.lit(1.0))
                        .otherwise(F.lit(0.0))
                    )
                    / n_dec,
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("selective_accuracy"),
        )
        .crossJoin(F.broadcast(best_t))
        .crossJoin(F.broadcast(ece_before))
        .crossJoin(F.broadcast(ece_after))
        .select(
            "tau",
            "n_test",
            "n_decided",
            "coverage",
            "selective_accuracy",
            "best_t",
            "ece_before",
            "ece_after",
        )
    )


# ---------------------------------------------------------------------------
# q245 — weak-rule vs trained-model agreement (Cohen's kappa) per
# source: observed agreement corrected for chance agreement between
# the rule-based weak label and the STORED NB model's prediction —
# the audit that tells a pipeline owner where the distilled model
# genuinely disagrees with its teacher (kappa near 0 = agreement is
# luck; near 1 = the model reproduces the rule).  Serve shape: q229's
# stored-model scoring (token stream ⋈ broadcast vocab) followed by
# one source-keyed agg of four cell counts — kappa is row-local
# algebra over the confusion marginals.  pe == 1 (both raters
# constant) is pinned to kappa = 0.0 in both engines.
# ---------------------------------------------------------------------------


@register(
    "q245_weak_label_agreement",
    f"""
    WITH {CL.nb_ctes(score="all")},
    cells AS (
        SELECT source,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CASE WHEN y = 1 AND score > 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS a11,
               CAST(sum(CASE WHEN y = 0 AND score <= 0 THEN 1 ELSE 0 END)
                    AS DOUBLE) AS a00,
               CAST(sum(y) AS DOUBLE) AS y1,
               CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                   AS p1
        FROM nb_scored
        GROUP BY source
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           round((a11 + a00) / n, 6) AS observed_agreement,
           round((y1 * p1 + (n - y1) * (n - p1)) / (n * n), 6)
               AS chance_agreement,
           CASE WHEN (y1 * p1 + (n - y1) * (n - p1)) / (n * n) >= 1.0
                THEN 0.0
                ELSE round(((a11 + a00) / n
                            - (y1 * p1 + (n - y1) * (n - p1)) / (n * n))
                           / (1.0 - (y1 * p1 + (n - y1) * (n - p1))
                                    / (n * n)), 6)
           END AS kappa
    FROM cells
    """,
)
def q245_weak_label_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = CL.nb_score_from_store(
        docs, spark, _nb_artifact_dir(spark, sf_dir)
    )
    pos = (F.col("score") > 0).cast("int")
    cells = scored.groupBy("source").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(((F.col("y") == 1) & (F.col("score") > 0)).cast("int"))
        .cast("double")
        .alias("a11"),
        F.sum(((F.col("y") == 0) & (F.col("score") <= 0)).cast("int"))
        .cast("double")
        .alias("a00"),
        F.sum("y").cast("double").alias("y1"),
        F.sum(pos).cast("double").alias("p1"),
    )
    po = (F.col("a11") + F.col("a00")) / F.col("n")
    pe = (
        F.col("y1") * F.col("p1")
        + (F.col("n") - F.col("y1")) * (F.col("n") - F.col("p1"))
    ) / (F.col("n") * F.col("n"))
    return cells.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("chance_agreement"),
        F.when(pe >= 1.0, F.lit(0.0))
        .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
        .alias("kappa"),
    )
