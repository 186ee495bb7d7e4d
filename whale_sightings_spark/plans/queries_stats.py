"""Registered queries: statistical profiling and embedding-clustering
breadth (q54-q59).

The engine's remaining analytics surface a corpus owner runs before and
after curation: second-moment statistics for drift detection, token
histograms, cardinality estimation with an accuracy contract, sentence
segmentation, a k-means assignment step over embeddings, and
temperature-based domain mixing (the rebalancing move every LLM
training-data pipeline performs between dedup and export).

Scale notes (the shapes, not the sizes, are what matter at 100 TB):
- q54/q55 are single partial+final aggregates — one shuffle each.
- q56 pins approx_count_distinct to its 5%% contract against the exact
  count, so the cheap HLL path is usable with a verified error bound.
- q57 is a pure per-row explode — no shuffle at all.
- q58 joins the corpus against a broadcast centroid set (K rows) and
  reduces per-vector with one hash shuffle; the classic assignment step
  of distributed Lloyd iteration.
- q59 is the two-pass "aggregate stats -> broadcast rates -> filter"
  pattern: the fact table is scanned twice but never shuffled; the rate
  table is dimension-sized by construction (one row per source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.functions import text as TX
from whale_sightings_spark.operators import curation as CU
from whale_sightings_spark.operators.similarity import cosine, cosine_sql
from whale_sightings_spark.plans.queries import register
from whale_sightings_spark.schemas import load_table
from whale_sightings_spark.session import barrier

# ---------------------------------------------------------------------------
# q54 — grouped second-moment statistics: corr / covar / stddev / var.
# One partial+final aggregate; Spark's co-moment merge is
# order-insensitive to the rounding precision used here.
# ---------------------------------------------------------------------------

@register(
    "q54_grouped_stats",
    """
    SELECT l_returnflag AS flag,
           count(*) AS n_rows,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(stddev_samp(l_discount), 6) AS sd_discount,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(avg(l_extendedprice), 4) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q54_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n_rows"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_discount"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# q55 — token-count histogram: fixed-width buckets over per-document
# token counts, served (round 9) from the LM store's doc_len table —
# an O(documents) read, no tokenize. The bucket id is computed
# row-local, so the whole histogram is one aggregate shuffle
# regardless of corpus size.
# ---------------------------------------------------------------------------

_BUCKET_W = 32


@register(
    "q55_token_histogram",
    f"""
    WITH t AS (
        SELECT CAST(len({TX.tokens_sql('text')}) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT CAST(floor(n_tokens / {_BUCKET_W}.0) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           min(n_tokens) AS min_tokens,
           max(n_tokens) AS max_tokens
    FROM t GROUP BY 1
    """,
)
def q55_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 9): per-doc token totals come off
    # the LM store's O(documents) doc_len table — identical values to
    # size(tokens(text)) by construction (nulls included), with zero
    # tokenization at query time.
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    t = LM.stored_doc_len(spark, art).select(
        F.col("len").cast("bigint").alias("n_tokens")
    )
    return (
        t.withColumn("bucket", F.floor(F.col("n_tokens") / _BUCKET_W))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q56 — cardinality estimation with a verified contract: HLL
# approx_count_distinct beside the exact distinct, asserting a 5%
# relative-error bound *inside the result*. rsd=0.02 keeps the sketch's
# standard error 2.5x inside that contract (HLL's rsd is a standard
# error, not a hard bound — at rsd=0.05 small groups do exceed 5%).
# The oracle emits literal TRUE — if the sketch ever drifts past the
# contract, the hash gate catches it. At 100 TB the approx path is the
# affordable one; this query is the proof it can be trusted.
# ---------------------------------------------------------------------------

@register(
    "q56_approx_distinct",
    """
    SELECT lang,
           count(DISTINCT doc_id) AS n_exact,
           TRUE AS approx_ok
    FROM documents
    GROUP BY lang
    """,
)
def q56_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_exact"),
        F.approx_count_distinct("doc_id", rsd=0.02).alias("_approx"),
    ).select(
        "lang",
        "n_exact",
        (
            F.abs(F.col("_approx") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# q57 — sentence segmentation: split each document into sentence-like
# chunks (terminator-bounded), keep the ordinal, emit a fingerprint and
# token count per sentence. Pattern stays in the RE2 ∩ Java dialect so
# both engines run the identical automaton; pure per-row explode.
# ---------------------------------------------------------------------------

_SENT_RE = r"[^.!?]+[.!?]?"


@register(
    "q57_sentences",
    f"""
    WITH s AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, '{_SENT_RE}')) AS raw,
               generate_subscripts(regexp_extract_all(text, '{_SENT_RE}'), 1)
                   AS sent_idx
        FROM documents
    )
    SELECT doc_id,
           CAST(sent_idx AS INT) AS sent_idx,
           md5(trim(raw)) AS sent_md5,
           CAST(len({TX.tokens_sql('trim(raw)')}) AS INT) AS n_tokens
    FROM s
    WHERE trim(raw) <> ''
    """,
)
def q57_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(f"regexp_extract_all(text, '{_SENT_RE}', 0)")
        ).alias("pos", "raw"),
    )
    return (
        exploded.select(
            "doc_id",
            (F.col("pos") + 1).cast("int").alias("sent_idx"),
            F.trim(F.col("raw")).alias("sent"),
        )
        .filter(F.col("sent") != "")
        .select(
            "doc_id",
            "sent_idx",
            F.md5(F.col("sent")).alias("sent_md5"),
            F.size(TX.tokens(F.col("sent"))).cast("int").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q58 — k-means assignment step: every embedding to its nearest of K
# deterministic centroids (the first K vectors), by cosine. This is the
# distributed half of Lloyd iteration: corpus ⋈ broadcast(K centroids),
# per-vector argmax, then the per-cluster reduction that would feed the
# centroid update (q32's (label, dim) partial agg). K× row expansion,
# one hash shuffle — never an all-pairs join.
# ---------------------------------------------------------------------------

_KMEANS_K = 8


@register(
    "q58_kmeans_assign",
    f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cvec
        FROM embeddings WHERE vec_id < {_KMEANS_K}
    ),
    scored AS (
        SELECT e.vec_id, c.centroid_id,
               round({cosine_sql('e.embedding', 'c.cvec')}, 6) AS cos,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({cosine_sql('e.embedding', 'c.cvec')}, 6) DESC,
                            c.centroid_id
               ) AS rn
        FROM embeddings e CROSS JOIN cent c
    )
    SELECT centroid_id,
           count(*) AS n_members,
           min(vec_id) AS min_member,
           max(vec_id) AS max_member,
           round(avg(cos), 4) AS avg_cos
    FROM scored WHERE rn = 1
    GROUP BY centroid_id
    """,
)
def q58_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        F.round(cosine(F.col("embedding"), F.col("cvec")), 6).alias("cos"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid_id"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy("centroid_id").agg(
        F.count("*").alias("n_members"),
        F.min("vec_id").alias("min_member"),
        F.max("vec_id").alias("max_member"),
        F.round(F.avg("cos"), 4).alias("avg_cos"),
    )


# ---------------------------------------------------------------------------
# q59 — temperature-based domain mixing (alpha = 0.5): per-source
# sampling rates ∝ n^(alpha-1), normalized so the smallest source keeps
# everything, applied with the deterministic hash sampler (so both
# engines and any rerun select identical rows). Two fact scans, zero
# fact shuffles: the stats pass reduces to one row per source, the rate
# table broadcasts back. sqrt/division are IEEE-exact, so the computed
# ppm rates agree bit-for-bit across engines.
# ---------------------------------------------------------------------------

_MIX_SALT = "#mix"


@register(
    "q59_domain_mixing",
    f"""
    WITH counts AS (
        SELECT source, count(*) AS n_total FROM documents GROUP BY source
    ),
    rates AS (
        SELECT source, n_total,
               LEAST(
                   {CU.SAMPLE_DENOM},
                   CAST(floor({CU.SAMPLE_DENOM} / sqrt(
                       CAST(n_total AS DOUBLE)
                       / (SELECT min(n_total) FROM counts)
                   )) AS BIGINT)
               ) AS rate_ppm
        FROM counts
    ),
    kept AS (
        SELECT d.source, d.doc_id
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {CU.sample_keep_sql("CAST(d.doc_id AS VARCHAR) || '" + _MIX_SALT + "'", 'r.rate_ppm')}
    ),
    kept_agg AS (
        SELECT source, count(*) AS n_kept,
               CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids
        FROM kept GROUP BY source
    )
    SELECT r.source, r.n_total, r.rate_ppm,
           coalesce(k.n_kept, 0) AS n_kept,
           coalesce(k.sum_kept_ids, 0) AS sum_kept_ids
    FROM rates r LEFT JOIN kept_agg k ON r.source = k.source
    """,
)
def q59_domain_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # source-cardinality, referenced by the min aggregate, the rate
    # projection and (via rates) the keep-join and final report — each
    # replayed the corpus count agg
    counts = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_total"))
        .transform(barrier)
    )
    min_n = counts.agg(F.min("n_total").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).select(
        "source",
        "n_total",
        F.least(
            F.lit(CU.SAMPLE_DENOM),
            F.floor(
                CU.SAMPLE_DENOM
                / F.sqrt(F.col("n_total").cast("double") / F.col("min_n"))
            ).cast("bigint"),
        ).alias("rate_ppm"),
    )
    kept = docs.join(F.broadcast(rates), "source").filter(
        CU.sample_keep(
            F.concat(F.col("doc_id").cast("string"), F.lit(_MIX_SALT)),
            F.col("rate_ppm"),
        )
    )
    kept_agg = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.sum("doc_id").alias("sum_kept_ids")
    )
    return rates.join(kept_agg, "source", "left").select(
        "source",
        "n_total",
        "rate_ppm",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("sum_kept_ids"), F.lit(0)).alias("sum_kept_ids"),
    )


# ---------------------------------------------------------------------------
# q60 — VARIANT-path JSON analytics (Spark 4 semi-structured type).
# q27 extracts via string JSON-path functions, which re-parse the JSON
# text per extraction; VARIANT parses once into Spark's binary
# semi-structured encoding and every variant_get after that is a cheap
# typed probe — the shape you want when a 100 TB event table carries a
# props blob probed by many expressions. Aggregation mirrors q27's
# conventions; missing-key probes go through try_variant_get (ANSI
# mode stays satisfied on dirty input).
# ---------------------------------------------------------------------------

@register(
    "q60_variant_extract",
    """
    WITH p AS (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               json_extract_string(props, '$.missing') AS missing
        FROM events
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k,
           max(k) AS max_k,
           CAST(sum(CASE WHEN missing IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing
    FROM p
    GROUP BY event_type
    """,
)
def q60_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.variant_get(F.col("v"), "$.k", "int").alias("k"),
        F.try_variant_get(F.col("v"), "$.missing", "string").alias("missing"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("missing").isNull(), 1).otherwise(0)).alias(
            "n_missing"
        ),
    )


# ---------------------------------------------------------------------------
# q61 — approximate percentiles with a verified rank contract (the
# quantile sibling of q56): approx_percentile's GK sketch guarantees
# rank error <= n/accuracy; with accuracy=10000 the estimate must land
# between the exact 49th and 51st percentiles for any n. The query
# asserts exactly that, per event_type, beside the exact median the
# oracle recomputes. At 100 TB the sketch is a single-pass mergeable
# aggregate; exact percentile_cont needs the whole group sorted.
# ---------------------------------------------------------------------------

@register(
    "q61_approx_percentile",
    """
    SELECT event_type,
           count(*) AS n,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6)
               AS exact_p50,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def q61_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("exact_p50"),
        F.percentile("value", F.lit(0.49)).alias("_p49"),
        F.percentile("value", F.lit(0.51)).alias("_p51"),
        F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("_approx"),
    )
    return agg.select(
        "event_type",
        "n",
        "exact_p50",
        (
            (F.col("_approx") >= F.col("_p49"))
            & (F.col("_approx") <= F.col("_p51"))
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# q62 — salted skew join (operators/skew.salted_join): the explicit
# mitigation for heavy-tailed join keys. The salt spreads each fact
# key across buckets; the dim replicates buckets×; the result is
# row-identical to the plain join the oracle runs — which is the whole
# point, verified here by aggregating the joined frame per nation.
# ---------------------------------------------------------------------------

@register(
    "q62_salted_join",
    """
    SELECT c.c_nationkey AS nation_id,
           count(*) AS n_orders,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS VARCHAR) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def q62_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    joined = salted_join(
        orders, customer, "o_custkey", "c_custkey", "o_orderkey", buckets=8
    )
    return joined.groupBy(F.col("c_nationkey").alias("nation_id")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("string")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q63 — document chunking: fixed-size token windows with overlap (the
# context-length prep step before packing/training). starts are
# generated row-local (sequence + slice — no UDF), so the whole
# operator is a per-row explode: zero shuffles at any corpus size.
# Window 64, stride 48 -> 16-token overlap between adjacent chunks.
# ---------------------------------------------------------------------------

_CHUNK_W = 64
_CHUNK_STRIDE = 48


@register(
    "q63_chunk_documents",
    f"""
    WITH t AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS toks FROM documents
    ),
    c AS (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks), 1) + 1, {_CHUNK_STRIDE}))
                   AS start
        FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(len(list_slice(toks, start, start + {_CHUNK_W} - 1)) AS INT)
               AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, start, start + {_CHUNK_W} - 1),
               ' ')) AS chunk_md5
    FROM c
    WHERE len(list_slice(toks, start, start + {_CHUNK_W} - 1)) > 0
    """,
)
def q63_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    c = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("toks"), F.lit(1)),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK_W)
    return (
        c.select(
            "doc_id",
            ((F.col("start") - 1) / _CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.size(chunk).cast("int").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
        )
        .filter(F.col("n_chunk_tokens") > 0)
    )


# ---------------------------------------------------------------------------
# q64 — deterministic sequence packing: assign documents to fixed-size
# context bins (4096 tokens) by sequential fill within hash buckets.
# The bucket count is the parallelism knob: each bucket's fill order
# is a running token sum over (bucket, doc_id) — ONE window shuffle —
# so packing 100 TB is B independent sequential fills, not one global
# scan. offset/bin are pure functions of the running sum, identical in
# both engines.
# ---------------------------------------------------------------------------

_PACK_BIN = 4096
_PACK_BUCKETS = 16

from whale_sightings_spark.functions.hashing import hash60, hash60_sql  # noqa: E402

_PACK_BUCKET_SQL = f"({hash60_sql('CAST(doc_id AS VARCHAR)')}) % {_PACK_BUCKETS}"


#: q64's full oracle SQL, shared with the q131 packed-manifest oracle
_PACK_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({TX.tokens_sql('text')}) AS BIGINT) AS n_tokens,
               CAST({_PACK_BUCKET_SQL} AS BIGINT) AS bucket
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_tokens, bucket,
               sum(n_tokens) OVER (
                   PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM t
    )
    SELECT doc_id, bucket, n_tokens,
           CAST(floor((cum - n_tokens) / {_PACK_BIN}.0) AS BIGINT) AS bin_id,
           CAST((cum - n_tokens) % {_PACK_BIN} AS BIGINT) AS offset_tokens
    FROM s
    """


@register("q64_sequence_packing", _PACK_SQL)
def q64_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        (hash60(F.col("doc_id").cast("string")) % _PACK_BUCKETS).alias("bucket"),
    )
    w = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return s.select(
        "doc_id",
        "bucket",
        "n_tokens",
        F.floor(start / _PACK_BIN).alias("bin_id"),
        (start % _PACK_BIN).alias("offset_tokens"),
    )


# ---------------------------------------------------------------------------
# q131 — packed-example manifests: q64's per-doc assignment rolled up
# to one row per (bucket, bin) — the artifact a trainer actually
# consumes (which docs make up each fixed-context example, in offset
# order, plus fill/spill accounting for boundary handling). One extra
# keyed agg over q64's single window shuffle; the per-bin collect is
# bounded by construction (a 4096-token bin holds at most 4096
# nonempty docs), so the manifest row can never blow up an executor.
# ---------------------------------------------------------------------------


@register(
    "q131_packed_manifest",
    f"""
    WITH packed AS ({_PACK_SQL})
    SELECT bucket, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           CAST(greatest(max(offset_tokens + n_tokens) - {_PACK_BIN}, 0)
                AS BIGINT) AS spill_tokens,
           array_to_string(list(doc_id ORDER BY offset_tokens, doc_id), ',')
               AS doc_ids
    FROM packed
    GROUP BY bucket, bin_id
    """,
)
def q131_packed_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = q64_sequence_packing(spark, sf_dir)
    return packed.groupBy("bucket", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.greatest(
            F.max(F.col("offset_tokens") + F.col("n_tokens")) - F.lit(_PACK_BIN),
            F.lit(0).cast("bigint"),
        ).alias("spill_tokens"),
        # string-rendered (driver's pandas canonicalizer can't hash lists);
        # the per-bin collect stays bounded by the 4096-token bin capacity
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("offset_tokens", "doc_id"))),
                lambda x: x.doc_id.cast("string"),
            ),
            ",",
        ).alias("doc_ids"),
    )


# ---------------------------------------------------------------------------
# q105 — Spearman rank correlation per group: the robust (monotonic,
# outlier-insensitive) sibling of q54's Pearson corr. Ranks use the
# standard average-rank treatment of ties:
#     avg_rank(v) = (#rows < v) + (tie_count(v) + 1) / 2
# and are NEVER computed by a window partitioned by the 3-value flag
# over the raw fact — that funnels the entire table through 3 sort
# tasks (the round-3 scale-killer). Two scale-correct rank strategies,
# picked per column by value cardinality:
#   - bounded values (l_quantity, ~50 distinct): ranks come from the
#     tiny (flag, value) frequency table (q111's group-mode shape) and
#     BROADCAST-join back to the fact — zero row-scale shuffles.
#   - near-unique values (l_extendedprice): classic distributed
#     ranking — range-bucket the value, compute per-(flag, bucket)
#     totals (a bounded table) whose exclusive prefix sums are the
#     bucket offsets (broadcast), then ONE window partitioned by the
#     composite (flag, bucket) key sorts each segment in parallel;
#     global avg rank = offset + (min_rank + max_rank)/2 where
#     max_rank is a RANGE-framed count (peers included). Exactly the
#     repartitionByRange+sortWithinPartitions pattern; `bucket_width`
#     is the knob that scales segment count with the cluster.
# One row-scale exchange total; the final corr over the per-row rank
# pairs is one partial+final agg. Ranks are exact halves (integer
# prefix + int/2), so both engines feed corr bit-identical inputs and
# 6dp rounding is stable (q54 contract). The oracle keeps the plain
# window form — ranks are mathematically identical, only the physical
# strategy differs.
# ---------------------------------------------------------------------------


from whale_sightings_spark.operators.ranks import (  # noqa: E402
    freq_avg_ranks as _freq_avg_ranks,
    segmented_avg_rank as _segmented_avg_rank,
)


@register(
    "q105_spearman",
    """
    WITH ranked AS (
        SELECT l_returnflag AS flag,
               rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                 + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)
                   / 2.0 AS rq,
               rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                 + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1)
                   / 2.0 AS rp
        FROM lineitem
    )
    SELECT flag, count(*) AS n, round(corr(rq, rp), 6) AS spearman
    FROM ranked
    GROUP BY flag
    """,
)
def q105_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_quantity", "l_extendedprice"
    )
    # qty: ~50 distinct values per flag -> rank table is bounded, broadcast.
    rq = _freq_avg_ranks(
        li.select("flag", "l_quantity"), "flag", "l_quantity"
    ).withColumnRenamed("avg_rank", "rq")
    # price: near-unique -> per-row segmented rank, one parallel window
    # (operators.ranks module header for the strategy).
    ranked = _segmented_avg_rank(li, "flag", "l_extendedprice", 4096.0, "rp")
    ranked = ranked.join(F.broadcast(rq), ["flag", "l_quantity"])
    return ranked.groupBy("flag").agg(
        F.count("*").alias("n"), F.round(F.corr("rq", "rp"), 6).alias("spearman")
    )


# ---------------------------------------------------------------------------
# q150 — packing-efficiency audit: the distribution of bin fill ratios
# (bin tokens / capacity) over q64's packed bins — THE metric for a
# packing strategy (low fill = wasted context windows, ratios > 1 =
# docs spanning bins that need boundary handling). One keyed agg on
# top of q64's single window shuffle; the histogram is ≤11 buckets.
# ---------------------------------------------------------------------------


@register(
    "q150_packing_efficiency",
    f"""
    WITH packed AS ({_PACK_SQL}),
    bins AS (
        SELECT bucket, bin_id, sum(n_tokens) AS bin_tokens
        FROM packed GROUP BY bucket, bin_id
    )
    SELECT CAST(least(floor(bin_tokens * 10.0 / {_PACK_BIN}), 10) AS INT)
               AS fill_decile,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(min(bin_tokens) AS BIGINT) AS min_tokens,
           CAST(max(bin_tokens) AS BIGINT) AS max_tokens,
           round(avg(bin_tokens * 1.0 / {_PACK_BIN}), 6) AS avg_fill
    FROM bins
    GROUP BY 1
    """,
)
def q150_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = q64_sequence_packing(spark, sf_dir)
    bins = packed.groupBy("bucket", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens")
    )
    decile = F.least(
        F.floor(F.col("bin_tokens") * 10.0 / _PACK_BIN), F.lit(10)
    ).cast("int")
    return bins.groupBy(decile.alias("fill_decile")).agg(
        F.count("*").alias("n_bins"),
        F.min("bin_tokens").cast("bigint").alias("min_tokens"),
        F.max("bin_tokens").cast("bigint").alias("max_tokens"),
        F.round(F.avg(F.col("bin_tokens") * F.lit(1.0) / _PACK_BIN), 6).alias(
            "avg_fill"
        ),
    )


# ---------------------------------------------------------------------------
# q171 — context-window overflow audit: for each candidate training
# context length, the fraction of documents that exceed it and the
# token mass truncation would discard — the two numbers that decide a
# run's max_seq_len (too short wastes corpus in truncation, too long
# wastes compute on padding; q64's packing consumes the chosen limit).
# One scan; the 3 candidate limits fan out row-locally (explode of a
# 3-element literal array) into a 3-group agg with map-side partials.
# ---------------------------------------------------------------------------

_CTX_LIMITS = (64, 128, 256)


@register(
    "q171_context_overflow",
    f"""
    WITH t AS (
        SELECT l.lim, {TX.token_count_sql('text')} AS ntok
        FROM documents,
             LATERAL (SELECT unnest([{", ".join(str(x) for x in _CTX_LIMITS)}])
                      AS lim) l
    )
    SELECT CAST(lim AS INT) AS ctx_limit,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ntok > lim THEN 1 ELSE 0 END) AS BIGINT)
               AS n_over,
           round(avg(CASE WHEN ntok > lim THEN 1.0 ELSE 0.0 END), 6)
               AS frac_over,
           CAST(sum(greatest(ntok - lim, 0)) AS BIGINT) AS tokens_lost,
           round(sum(greatest(ntok - lim, 0)) * 1.0 / sum(ntok), 6)
               AS loss_frac
    FROM t
    GROUP BY lim
    """,
)
def q171_context_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.explode(F.array(*[F.lit(x) for x in _CTX_LIMITS])).alias("lim"),
        TX.token_count(F.col("text")).alias("ntok"),
    )
    lost = F.greatest(F.col("ntok") - F.col("lim"), F.lit(0))
    return t.groupBy(F.col("lim").cast("int").alias("ctx_limit")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("ntok") > F.col("lim"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_over"),
        F.round(
            F.avg(F.when(F.col("ntok") > F.col("lim"), 1.0).otherwise(0.0)), 6
        ).alias("frac_over"),
        F.sum(lost).cast("bigint").alias("tokens_lost"),
        F.round(F.sum(lost) * 1.0 / F.sum("ntok"), 6).alias("loss_frac"),
    )


# ---------------------------------------------------------------------------
# q205 — two-sample Kolmogorov-Smirnov drift test per source: each
# source's document-length distribution vs the rest of the corpus.
# Complements q135's PSI (binned, choice-of-bins sensitive) with the
# bin-free sup-norm ECDF distance a curation pipeline uses to catch a
# source whose crawl changed shape. Everything stays in INTEGER
# arithmetic until the single final division (the q196 lesson: never
# round a derived difference of raw doubles) — the KS numerator
# |cum_c*(N-ns) - (cum_g-cum_c)*ns| and its argmax are exact, so the
# reported ks_at_len tie-break (min length achieving the sup) is
# deterministic in both engines. Shape: per-(source,len) counts, a
# sources x distinct-lengths grid (both bounded), one cumulative window
# per source over the aggregated grid (sanctioned q111 shape), output
# |sources| rows. At N ~ 1e9+ docs the BIGINT products need DECIMAL(38)
# or a normalized-double fallback; documented, not needed at any test SF.
# ---------------------------------------------------------------------------

@register(
    "q205_ks_source_drift",
    """
    WITH d AS (SELECT source, n_chars FROM documents),
    tot AS (SELECT source, count(*) AS ns FROM d GROUP BY source),
    grand AS (SELECT count(*) AS n FROM d),
    gc AS (SELECT n_chars, count(*) AS gc FROM d GROUP BY n_chars),
    cnt AS (SELECT source, n_chars, count(*) AS c
            FROM d GROUP BY source, n_chars),
    grid AS (
        SELECT t.source, t.ns, g.n_chars, g.gc,
               coalesce(c.c, 0) AS c
        FROM tot t CROSS JOIN gc g
        LEFT JOIN cnt c ON c.source = t.source AND c.n_chars = g.n_chars
    ),
    cum AS (
        SELECT source, ns, n_chars,
               sum(c)  OVER (PARTITION BY source ORDER BY n_chars)
                   AS cum_c,
               sum(gc) OVER (PARTITION BY source ORDER BY n_chars)
                   AS cum_g
        FROM grid
    ),
    j AS (
        SELECT source, ns, n_chars,
               abs(CAST(cum_c AS BIGINT) * (n - ns)
                   - CAST(cum_g - cum_c AS BIGINT) * ns) AS num,
               ns * (n - ns) AS den
        FROM cum CROSS JOIN grand
    ),
    k AS (SELECT *, max(num) OVER (PARTITION BY source) AS mx FROM j)
    SELECT source,
           CAST(any_value(ns) AS BIGINT) AS n_source,
           round(CAST(any_value(mx) AS DOUBLE)
                 / CAST(any_value(den) AS DOUBLE), 6) AS ks_stat,
           CAST(min(CASE WHEN num = mx THEN n_chars END) AS BIGINT)
               AS ks_at_len
    FROM k
    GROUP BY source
    """,
)
def q205_ks_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.operators.drift import ks_report

    docs = load_table(spark, sf_dir, "documents")
    return ks_report(docs.select("source", "n_chars"))
