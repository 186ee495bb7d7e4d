"""Trained quality classifiers, in-engine (weak-label distillation).

A production curation stack distills its hand rules into a trained
model and scores the whole corpus with it (the GPT-3 / CCNet recipe:
cheap heuristic -> weak labels -> linear classifier -> corpus-wide
score).  The reference engine (jarretjeter/whale-sightings) has no
trainable operator at all — this family belongs to the net-new
LLM-pipeline surface the brief asks for, beside dedup / ANN / BPE.

Two trainers, both expressed as DataFrame aggregations so a training
pass is one map-side-partial agg over the corpus:

- multinomial Naive Bayes over tokens (`nb_heldout_scores`): the
  per-token class counts ARE the model; scoring is an exploded-token
  broadcast join + per-doc sum.  Vocabulary is bounded by a min-count
  floor so the broadcast side never scales with the corpus.
- logistic regression by full-batch gradient descent
  (`logreg_fit`): K fixed steps, each one aggregation job; the weight
  vector (d+1 scalars) is the only thing that ever reaches the driver.

Cross-engine determinism: every float that crosses a step boundary is
quantized to 6dp first (the round-inputs-first convention), so the
DuckDB twin consumes bit-identical weights each round and
summation-order ulps cannot compound across steps.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whale_sightings_spark.functions import text as TX
from whale_sightings_spark.functions.hashing import hash60, hash60_sql
from whale_sightings_spark.session import barrier

#: weak-label threshold on the composite quality score: ~55% positive
#: at the driver's scale factors, so confusion cells stay non-trivial.
NB_TAU = 0.75
#: held-out share: hash60(doc_id) % NB_HOLD_MOD == 0.  NOT the q185
#: doc_id%10 split — the testdata's source is doc_id%20, so a modular
#: split confounds held-out with source; the hash split stratifies
#: evaluation across every source (and is how a real pipeline splits:
#: content-stable, uncorrelated with ingestion order).
NB_HOLD_MOD = 10


def is_held(doc_id: Column) -> Column:
    return hash60(doc_id.cast("string")) % NB_HOLD_MOD == 0


def is_held_sql(expr: str = "doc_id") -> str:
    return f"({hash60_sql(f'CAST({expr} AS VARCHAR)')} % {NB_HOLD_MOD} = 0)"


#: vocabulary floor — tokens below this train count are folded into
#: the OOV mass.  At 100 TB this (not the corpus) bounds the broadcast.
NB_MIN_COUNT = 5

LOGREG_LR = 2.0
LOGREG_STEPS = 6


def weak_label(col: Column) -> Column:
    """1 when the rule-based quality score clears NB_TAU, else 0."""
    return (TX.quality_score(col) >= F.lit(NB_TAU)).cast("int")


def weak_label_sql(expr: str) -> str:
    return (
        f"(CASE WHEN {TX.quality_score_sql(expr)} >= {NB_TAU} "
        f"THEN 1 ELSE 0 END)"
    )


# ---------------------------------------------------------------------------
# multinomial Naive Bayes
# ---------------------------------------------------------------------------

def _labelled(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "source",
        TX.tokens(F.col("text")).alias("w"),
        weak_label(F.col("text")).alias("y"),
    )


def nb_train(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train NB on the weak-labelled train split.  Returns the two
    tables that ARE the model: `vt(tok, llr)` (vocab-scale, min-count
    floored) and a 1-row `meta(prior, oov)` — everything a serving
    path needs to score any stream of documents.

    Scale shape: one corpus-scale token agg; the model tables are
    bounded by the vocabulary floor, never by the corpus.
    """
    lab = _labelled(docs)
    train = lab.filter(~is_held(F.col("doc_id")))
    ttok = (
        train.select("y", F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
    )
    vocab = (
        ttok.groupBy("tok")
        .agg(
            F.sum("y").cast("double").alias("c1"),
            F.sum(1 - F.col("y")).cast("double").alias("c0"),
        )
        .filter(F.col("c1") + F.col("c0") >= NB_MIN_COUNT)
        # referenced by both the totals agg and the llr projection —
        # each would replay the corpus token agg (no exchange reuse:
        # the two subtrees prune differently)
        .transform(barrier)
    )
    tot = vocab.agg(
        F.sum("c1").alias("n1"),
        F.sum("c0").alias("n0"),
        F.count("*").cast("double").alias("v"),
    )
    pri = train.agg(
        F.log(
            (F.sum("y") + F.lit(1.0))
            / (F.count("*") - F.sum("y") + F.lit(1.0))
        ).alias("prior")
    )
    vt = vocab.crossJoin(F.broadcast(tot)).select(
        "tok",
        (
            F.log((F.col("c1") + 1.0) / (F.col("n1") + F.col("v")))
            - F.log((F.col("c0") + 1.0) / (F.col("n0") + F.col("v")))
        ).alias("llr"),
    )
    meta = pri.crossJoin(tot).select(
        "prior",
        F.log((F.col("n0") + F.col("v")) / (F.col("n1") + F.col("v"))).alias(
            "oov"
        ),
    )
    return vt, meta


def nb_score(docs: DataFrame, vt: DataFrame, meta: DataFrame) -> DataFrame:
    """Score documents against an NB model (trained or stored).
    Returns (doc_id, source, y, score); score is the raw log-odds.
    Exploded tokens ⋈ BROADCAST model + one per-doc keyed agg."""
    dtok = (
        _labelled(docs)
        .select("doc_id", "source", "y", F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
    )
    return (
        dtok.join(F.broadcast(vt), "tok", "left")
        .crossJoin(F.broadcast(meta))
        .groupBy("doc_id", "source", "y")
        .agg(
            (
                F.first("prior")
                + F.sum(F.coalesce(F.col("llr"), F.col("oov")))
            ).alias("score")
        )
    )


def nb_heldout_scores(docs: DataFrame) -> DataFrame:
    """Train NB on the weak-labelled train split, score the held-out
    split.  Returns (doc_id, source, y, score) with score the raw
    log-odds ln P(y=1|doc) - ln P(y=0|doc).

    Scale shape: one token agg builds the vocabulary (vocab-sized,
    min-count floored); scoring explodes held-out tokens and joins the
    BROADCAST vocab, then one per-doc keyed agg.  The corpus is never
    joined to itself and nothing driver-side scales with the data.
    """
    vt, meta = nb_train(docs)
    return nb_score(docs.filter(is_held(F.col("doc_id"))), vt, meta)


def nb_model_ctes(prefix: str = "", where: str = "") -> str:
    """DuckDB CTE chain for the trained model only (mirrors
    `nb_train`): `{prefix}lab` → `{prefix}vt(tok, llr)` (+ `{prefix}tot`,
    `{prefix}pri`).  ``where`` further restricts the TRAIN corpus (the
    q188-drift convention for history-slice retrains)."""
    toks = TX.tokens_sql("text")
    train_where = f"NOT {is_held_sql()}"
    if where:
        train_where += f" AND ({where})"
    p = prefix
    return f"""
    {p}lab AS (
        SELECT doc_id, source, {toks} AS w,
               {weak_label_sql('text')} AS y
        FROM documents
    ),
    {p}ttok AS (
        SELECT y, unnest(w) AS tok FROM {p}lab
        WHERE {train_where}
    ),
    {p}vocab AS (
        SELECT tok,
               CAST(sum(y) AS DOUBLE) AS c1,
               CAST(sum(1 - y) AS DOUBLE) AS c0
        FROM {p}ttok WHERE tok <> '' GROUP BY tok
        HAVING sum(y) + sum(1 - y) >= {NB_MIN_COUNT}
    ),
    {p}tot AS (
        SELECT sum(c1) AS n1, sum(c0) AS n0,
               CAST(count(*) AS DOUBLE) AS v
        FROM {p}vocab
    ),
    {p}pri AS (
        SELECT ln((sum(y) + 1.0) / (count(*) - sum(y) + 1.0)) AS prior
        FROM {p}lab WHERE {train_where}
    ),
    {p}vt AS (
        SELECT tok,
               ln((c1 + 1.0) / (n1 + v)) - ln((c0 + 1.0) / (n0 + v)) AS llr
        FROM {p}vocab, {p}tot
    )"""


def nb_ctes(score: str = "held") -> str:
    """DuckDB CTE chain mirroring `nb_heldout_scores` (score="held")
    or the serve-from-store full-corpus scoring (score="all" — the
    stored model is bit-identical to retraining, so the oracle just
    retrains); terminal CTE is `nb_scored(doc_id, source, y, score)`.
    """
    scored_where = (
        f"WHERE {is_held_sql()}" if score == "held" else ""
    )
    return f"""{nb_model_ctes()},
    htok AS (
        SELECT doc_id, source, y, unnest(w) AS tok FROM lab
        {scored_where}
    ),
    nb_scored AS (
        SELECT h.doc_id, h.source, h.y,
               first(p.prior)
               + sum(coalesce(vt.llr,
                              ln((t.n0 + t.v) / (t.n1 + t.v)))) AS score
        FROM htok h
        LEFT JOIN vt ON vt.tok = h.tok
        CROSS JOIN tot t
        CROSS JOIN pri p
        WHERE h.tok <> ''
        GROUP BY h.doc_id, h.source, h.y
    )"""


# ---------------------------------------------------------------------------
# Persisted classifier artifact — the q172/q176 build-once/serve-many
# convention applied to the THIRD artifact a real pipeline ships
# (after the ANN index and the tokenizer): the trained quality model.
# Training is cheap and rare; scoring runs over the whole 100 TB
# corpus — so the model tables persist and every serving consumer
# broadcast-joins the store instead of re-deriving the counts.
# ---------------------------------------------------------------------------

#: bump to invalidate persisted NB models when training constants
#: (tau / split / vocab floor / smoothing) change.  v2: meta gains the
#: learned calibration temperature (round 8 — VERDICT r7 #4).
NB_FORMAT_VERSION = 2

_VT_SCHEMA = "tok string, llr double"
_META_SCHEMA = "prior double, oov double, temperature double"

#: temperature-scaling grid (q239's grid, now fitted AT BUILD TIME and
#: persisted into the artifact's meta table so serving paths read the
#: calibrated probability without a grid search in their DAG)
NB_TEMP_GRID = (0.5, 0.75, 1.0, 1.5, 2.0, 3.0, 4.0, 6.0)

#: NLL-path probability clamp: the 4dp-rounded sigmoid reaches exactly
#: 0/1 once |score|/T >= ~4.95 and ln(0) diverges cross-engine (DuckDB
#: raises, Spark nulls) — clamp identically in both engines
NB_P_CLAMP = 1e-4


def calibrated_p(score: Column, t: Column) -> Column:
    """round(sigma(round(score,4)/T), 4) — the serving-side calibrated
    probability (no clamp: consumers take no logarithm)."""
    s4 = F.round(score, 4)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-s4 / t)), 4)


def _nll_p(score: Column, t: Column) -> Column:
    """The NLL-path probability: calibrated_p clamped away from 0/1."""
    return F.least(
        F.lit(1.0 - NB_P_CLAMP),
        F.greatest(F.lit(NB_P_CLAMP), calibrated_p(score, t)),
    )


def fit_temperature(scored: DataFrame) -> tuple[float, float]:
    """Grid-search argmin of the held-out NLL of sigma(score/T) over
    NB_TEMP_GRID.  One row-local grid explode (map-side, no extra
    shuffle) into one 8-group agg; the argmin is a driver pick over 8
    scalars (the BPE-argmax collect class), NLL rounded 6dp with a
    smaller-T tie-break so every engine picks the same T."""
    gridded = scored.select(
        "y",
        "score",
        F.explode(
            F.array(*[F.lit(float(t)) for t in NB_TEMP_GRID])
        ).alias("t"),
    )
    p = _nll_p(F.col("score"), F.col("t"))
    nlls = gridded.groupBy("t").agg(
        F.round(
            F.avg(
                -(
                    F.col("y") * F.log(p)
                    + (1 - F.col("y")) * F.log(F.lit(1.0) - p)
                )
            ),
            6,
        ).alias("nll")
    )
    rows = nlls.collect()  # 8 scalars
    best_nll, best_t = min((r["nll"], r["t"]) for r in rows)
    return best_t, best_nll


def nb_artifact_paths(artifact_dir: str) -> tuple[str, str]:
    """(vocab_dir, meta_dir) under ``artifact_dir``.  Vocab is written
    FIRST and meta LAST: build-if-absent guards key on the meta
    ``_SUCCESS`` marker, so a torn build is invisible (guard missing →
    rebuild) — the bpe_artifact_paths torn-write contract."""
    base = artifact_dir.rstrip("/")
    return base + "/vocab", base + "/meta"


def build_nb_artifact(docs: DataFrame, artifact_dir: str) -> str:
    """Train once, persist both model tables.  Both are vocab-bounded
    (never corpus-scale), so single-file writes; overwrite mode keeps
    a retried build idempotent.

    v2 also FITS THE CALIBRATION TEMPERATURE at build time (q239's
    grid over the held-out scores, scored against the just-written
    vocab) and persists it in the meta row — serving paths read
    calibrated probabilities with no grid search in their DAGs."""
    vt, meta = nb_train(docs)
    vocab_dir, meta_dir = nb_artifact_paths(artifact_dir)
    vt.coalesce(1).write.mode("overwrite").parquet(vocab_dir)
    # score the held-out split against the STORED vocab (cheaper than
    # recomputing the training agg a second time for the scoring join)
    vt_stored = docs.sparkSession.read.schema(_VT_SCHEMA).parquet(vocab_dir)
    held = nb_score(docs.filter(is_held(F.col("doc_id"))), vt_stored, meta)
    best_t, _best_nll = fit_temperature(held)
    (
        meta.select(
            "prior", "oov", F.lit(float(best_t)).alias("temperature")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(meta_dir)
    )
    return artifact_dir


def nb_stored_model(spark, artifact_dir: str) -> tuple[DataFrame, DataFrame]:
    from whale_sightings_spark.plans.store_utils import read_artifact_table

    vocab_dir, meta_dir = nb_artifact_paths(artifact_dir)
    return (
        read_artifact_table(spark, vocab_dir, _VT_SCHEMA),
        read_artifact_table(spark, meta_dir, _META_SCHEMA),
    )


def nb_score_from_store(docs: DataFrame, spark, artifact_dir: str) -> DataFrame:
    """Full-corpus scoring served from the persisted model: the only
    corpus-scale work is the token stream ⋈ broadcast stored vocab —
    no training aggregations in the serving plan."""
    vt, meta = nb_stored_model(spark, artifact_dir)
    return nb_score(docs, vt, meta)


def nb_calibrated_scores_from_store(
    docs: DataFrame, spark, artifact_dir: str
) -> DataFrame:
    """(doc_id, source, y, score, p_cal): store-served scores plus the
    CALIBRATED probability sigma(score / T) with T read from the
    artifact's meta row (broadcast 1-row join — no grid search, no
    collect in the serving DAG)."""
    vt, meta = nb_stored_model(spark, artifact_dir)
    scored = nb_score(docs, vt, meta)
    return scored.crossJoin(
        F.broadcast(meta.select("temperature"))
    ).select(
        "doc_id",
        "source",
        "y",
        "score",
        calibrated_p(F.col("score"), F.col("temperature")).alias("p_cal"),
    )


# ---------------------------------------------------------------------------
# logistic regression (full-batch GD, K fixed steps)
# ---------------------------------------------------------------------------

def logreg_features(col: Column) -> list[Column]:
    """[x1, x2, x3] in [0,1]: length term, stopword term, token-length
    term — the same signals the weak rule reads, so the fit is a
    genuine distillation.  x0 (intercept) is implicit."""
    f = TX.quality_features(col)
    return [
        F.least(F.lit(1.0), f["n_tokens"] / F.lit(50.0)),
        F.least(F.lit(1.0), f["stop_ratio"] * 5),
        F.least(F.lit(1.0), f["avg_token_len"] / F.lit(10.0)),
    ]


def logreg_features_sql(expr: str) -> list[str]:
    toks = TX.tokens_sql(expr)
    n_chars = f"length({expr})"
    n_toks = TX.token_count_sql(expr)
    all_stop = tuple(w for ws in TX.LANG_PROFILES.values() for w in ws)
    n_stop = TX._stopword_hits_sql(toks, all_stop)
    stop_ratio = (
        f"(CASE WHEN {n_toks} > 0 THEN CAST({n_stop} AS DOUBLE) / {n_toks} "
        f"ELSE 0.0 END)"
    )
    avg_len = (
        f"(CASE WHEN {n_toks} > 0 THEN CAST({n_chars} AS DOUBLE) / {n_toks} "
        f"ELSE 0.0 END)"
    )
    return [
        f"least(1.0, CAST({n_toks} AS DOUBLE) / 50.0)",
        f"least(1.0, {stop_ratio} * 5)",
        f"least(1.0, {avg_len} / 10.0)",
    ]


def round6(x: float) -> float:
    """Half-away-from-zero to 6dp — DuckDB's round() tie behavior, so
    the driver-updated weights match the unrolled-CTE oracle exactly."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def logreg_fit(feats: DataFrame) -> list[float]:
    """K fixed GD steps over (y, x1, x2, x3).  Each step is ONE
    aggregation job (map-side partial sums); only the 4 gradient
    scalars reach the driver, and the updated weights are quantized to
    6dp before they re-enter the plan as literals — so the next step's
    inputs are bit-identical across engines."""
    w = [0.0, 0.0, 0.0, 0.0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(LOGREG_STEPS):
        z = sum((F.lit(wj) * xj for wj, xj in zip(w, xs)), F.lit(0.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row = feats.agg(
            *[F.avg((p - F.col("y")) * xj).alias(f"g{j}")
              for j, xj in enumerate(xs)]
        ).collect()[0]
        w = [round6(wj - LOGREG_LR * row[f"g{j}"]) for j, wj in enumerate(w)]
    return w


def logreg_steps_ctes(feat_cte: str) -> str:
    """Unrolled-GD CTE chain over `feat_cte` (must expose y, x1..x3
    and a train marker column `is_train`); terminal CTE is
    `s{LOGREG_STEPS}(w0, w1, w2, w3)` with 6dp-quantized weights."""
    xs = ["1.0", "x1", "x2", "x3"]
    parts = [feat_cte]
    prev_w = ["0.0"] * 4
    for k in range(1, LOGREG_STEPS + 1):
        z = " + ".join(f"({w}) * {x}" for w, x in zip(prev_w, xs))
        p = f"(1.0 / (1.0 + exp(-({z}))))"
        cols = ", ".join(
            f"round(({prev_w[j]}) - {LOGREG_LR} * avg(({p} - y) * {xs[j]}), 6)"
            f" AS w{j}"
            for j in range(4)
        )
        src = "f" if k == 1 else f"f CROSS JOIN s{k - 1}"
        grp = "" if k == 1 else " GROUP BY w0, w1, w2, w3"
        parts.append(
            f"s{k} AS (SELECT {cols} FROM {src} WHERE is_train{grp})"
        )
        prev_w = [f"w{j}" for j in range(4)]
    return ",\n    ".join(parts)
