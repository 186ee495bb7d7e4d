"""Registered queries: corpus-curation breadth (operators/curation) and
the remaining OLAP set-operation / grouping-set completions.

q48-q51 exercise the curation operators a training-data pipeline runs
between dedup and export: PII scrubbing, deterministic stratified
sampling, row-local repetition signals, and benchmark-contamination
screening. q52/q53 close the GROUPING SETS and INTERSECT ALL / EXCEPT
ALL gaps left by the rollup/cube/INTERSECT queries. Conventions follow
plans/queries.py (identical aliases, fixed-scale strings for decimals,
deterministic orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whale_sightings_spark.functions import text as TX
from whale_sightings_spark.functions.hashing import hash60_sql
from whale_sightings_spark.operators import curation as CU
from whale_sightings_spark.operators.dedup import SHINGLE_N
from whale_sightings_spark.plans.queries import register
from whale_sightings_spark.schemas import load_table
from whale_sightings_spark.session import barrier

# ---------------------------------------------------------------------------
# q48 — PII redaction. The synthetic corpus is PII-free, so the query
# plants deterministic synthetic PII derived from doc_id (identically
# in the oracle) and then scrubs it: the operator under test is the
# regex pipeline, which runs per-row inside codegen — zero shuffles.
# ---------------------------------------------------------------------------

_PII_SUFFIX = (
    "CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' see https://example.org/d/'"
    " || CAST(doc_id AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' call +01-555-010'"
    " || CAST(doc_id % 10 AS VARCHAR) ELSE '' END"
)


def _with_synthetic_pii(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    email = F.when(
        did % 5 == 0,
        F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
    ).otherwise(F.lit(""))
    url = F.when(
        did % 7 == 0,
        F.concat(F.lit(" see https://example.org/d/"), did.cast("string")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 11 == 0,
        F.concat(F.lit(" call +01-555-010"), (did % 10).cast("string")),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, url, phone).alias("text")
    )


@register(
    "q48_pii_redaction",
    f"""
    WITH seeded AS (
        SELECT doc_id, text || {_PII_SUFFIX} AS text FROM documents
    )
    SELECT doc_id,
           {CU.pii_counts_sql('text')['email']} AS n_emails,
           {CU.pii_counts_sql('text')['url']} AS n_urls,
           {CU.pii_counts_sql('text')['phone']} AS n_phones,
           md5({CU.redact_pii_sql('text')}) AS redacted_md5
    FROM seeded
    WHERE doc_id % 5 = 0 OR doc_id % 7 = 0 OR doc_id % 11 = 0
    """,
)
def q48_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_synthetic_pii(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    counts = CU.pii_counts(F.col("text"))
    return docs.filter((did % 5 == 0) | (did % 7 == 0) | (did % 11 == 0)).select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["url"].alias("n_urls"),
        counts["phone"].alias("n_phones"),
        F.md5(CU.redact_pii(F.col("text"))).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# q49 — deterministic stratified sampling: per-language rates, decided
# by a pure hash of the key. Rerun-stable and engine-portable — both
# sides select the identical rows (df.sample/TABLESAMPLE cannot be
# oracle-checked at all). Aggregated per language to keep the result
# compact while still pinning the exact survivor set via sum/min/max.
# ---------------------------------------------------------------------------

#: parts-per-million kept per language: downsample the dominant
#: language, keep the rest (the classic domain-mixing move)
SAMPLE_RATES_PPM = {"en": 250_000, "de": 750_000, "fr": 750_000, "es": 750_000}
_DEFAULT_PPM = 500_000


@register(
    "q49_hash_sample",
    f"""
    WITH kept AS (
        SELECT lang, doc_id FROM documents
        WHERE {CU.stratified_sample_keep_sql('doc_id', 'lang', SAMPLE_RATES_PPM, _DEFAULT_PPM)}
    )
    SELECT lang, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM kept GROUP BY lang
    """,
)
def q49_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(
        CU.stratified_sample_keep(
            F.col("doc_id"), F.col("lang"), SAMPLE_RATES_PPM, _DEFAULT_PPM
        )
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("sum_ids"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# q50 — row-local repetition signals (Gopher/C4-family quality
# filters): duplicate-shingle fraction + top-token share. No explode,
# no shuffle — each document's statistic is computed inside its own
# row, so the operator is a pure map at any corpus size.
# ---------------------------------------------------------------------------

@register(
    "q50_repetition_signals",
    f"""
    WITH toks AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, t, {TX.shingles_from_tokens_sql('t', SHINGLE_N)} AS s FROM toks
    )
    SELECT doc_id,
           {CU.dup_shingle_ratio_sql('s')} AS dup_shingle_ratio,
           {CU.top_token_ratio_sql('t')} AS top_token_ratio
    FROM sh
    """,
)
def q50_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", TX.tokens(F.col("text")).alias("t")).select(
        "doc_id", "t", TX.shingles_from_tokens(F.col("t"), SHINGLE_N).alias("s")
    )
    return staged.select(
        "doc_id",
        CU.dup_shingle_ratio(F.col("s")).alias("dup_shingle_ratio"),
        CU.top_token_ratio(F.col("t")).alias("top_token_ratio"),
    )


# ---------------------------------------------------------------------------
# q51 — benchmark-contamination screen: the fraction of each candidate
# document's distinct shingles that appear anywhere in the "benchmark"
# set (here: doc_id < 25 plays the eval set). Inverted-index shape:
# distinct (doc, shingle) pairs, one semi-join against the benchmark
# shingle dictionary, one per-doc count — the same two-shuffle plan the
# Jaccard dedup uses, corpus-scale-safe.
# ---------------------------------------------------------------------------

_BENCH_MAX_ID = 25


@register(
    "q51_contamination",
    f"""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct({TX.shingles_from_tokens_sql('t', SHINGLE_N)})) AS shingle
        FROM (SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents)
    ),
    bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_MAX_ID}
    ),
    cand AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= {_BENCH_MAX_ID}),
    hits AS (
        SELECT c.doc_id, count(*) AS n_hit
        FROM cand c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id
    ),
    totals AS (
        SELECT doc_id, count(*) AS n_shingles FROM cand GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_shingles,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_shingles, 6)
               AS contamination
    FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
)
def q51_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 8): the distinct (doc_id, shingle)
    # pairs come off the persisted shingle index — identical rows to
    # the inline explode+distinct (the build is deterministic), but
    # the serving plan is a parquet scan + two joins, zero
    # Generate-over-text (plan-asserted in tests/test_plans.py).
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    sh = SHI.stored_postings(
        spark, shingle_artifact_dir(spark, sf_dir)
    ).select("doc_id", "shingle")
    bench = (
        sh.filter(F.col("doc_id") < _BENCH_MAX_ID).select("shingle").distinct()
    )
    cand = sh.filter(F.col("doc_id") >= _BENCH_MAX_ID)
    # per-doc denominators come off the stored doc_stats table (counts
    # over ALL docs == counts over the doc_id-filtered subset, the
    # filter key being the group key) — no counting shuffle at all
    totals = (
        SHI.stored_doc_stats(spark, shingle_artifact_dir(spark, sf_dir))
        .filter(F.col("doc_id") >= _BENCH_MAX_ID)
        .select("doc_id", "n_shingles")
    )
    hits = (
        cand.join(bench, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_contaminated"),
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_shingles"), 6
        ).alias("contamination"),
    )


# ---------------------------------------------------------------------------
# q52 — GROUPING SETS: the explicit-set sibling of rollup (q37) / cube
# (q42) — only the named sets are expanded, so the aggregate costs
# exactly the levels asked for. Spark's DataFrame API exposes
# rollup/cube only; the SQL surface IS the first-class Spark API here,
# same expand + partial/final hash aggregate underneath.
# ---------------------------------------------------------------------------

@register(
    "q52_grouping_sets",
    """
    SELECT l_returnflag AS flag,
           l_linestatus AS status,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
               AS gid,
           count(*) AS n_rows,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(18,2)) AS VARCHAR) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q52_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag AS flag,
               l_linestatus AS status,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
                   AS gid,
               count(*) AS n_rows,
               CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS STRING) AS revenue
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ---------------------------------------------------------------------------
# q53 — INTERSECT ALL / EXCEPT ALL: multiset semantics (q43 covers the
# DISTINCT forms). Spark plans both as aggregate+generate over
# per-side multiplicities — still hash-partitioned by the row value,
# never a sort. Sides are (custkey, order-month) visit multisets.
# ---------------------------------------------------------------------------

@register(
    "q53_setops_all",
    """
    WITH a AS (SELECT o_custkey AS custkey, CAST(month(o_orderdate) AS INT) AS mo
               FROM orders WHERE year(o_orderdate) = 1995),
         b AS (SELECT o_custkey AS custkey, CAST(month(o_orderdate) AS INT) AS mo
               FROM orders WHERE year(o_orderdate) = 1996)
    SELECT custkey, mo, 'common' AS tag FROM (
        SELECT custkey, mo FROM a INTERSECT ALL SELECT custkey, mo FROM b)
    UNION ALL
    SELECT custkey, mo, 'a_extra' AS tag FROM (
        SELECT custkey, mo FROM a EXCEPT ALL SELECT custkey, mo FROM b)
    """,
)
def q53_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def side(year: int) -> DataFrame:
        return orders.filter(F.year("o_orderdate") == year).select(
            F.col("o_custkey").alias("custkey"),
            F.month("o_orderdate").alias("mo"),
        )

    a, b = side(1995), side(1996)
    common = a.intersectAll(b).withColumn("tag", F.lit("common"))
    extra = a.exceptAll(b).withColumn("tag", F.lit("a_extra"))
    return common.unionByName(extra)


# ---------------------------------------------------------------------------
# q159 — curriculum phases: split the corpus into 4 quality-ordered
# training phases at exact score quartiles — the deterministic
# easy-to-hard ordering a curriculum schedule consumes. Boundaries are
# ONE exact-percentile scalar aggregate (bounded: 3 doubles collected,
# the zorder boundary pattern — never a global sort or window);
# assignment is a row-local comparison against the broadcast
# boundaries; the report is a 4-group agg. Spark's exact percentile and
# DuckDB's quantile_cont share linear interpolation over the same
# 6dp-rounded score multiset, so the boundaries agree exactly.
# ---------------------------------------------------------------------------


@register(
    "q159_curriculum_phases",
    f"""
    WITH scored AS (
        SELECT doc_id, {TX.quality_score_sql('text')} AS score,
               {TX.token_count_sql('text')} AS n_tokens
        FROM documents
    ),
    b AS (
        SELECT round(quantile_cont(score, 0.25), 6) AS b1,
               round(quantile_cont(score, 0.50), 6) AS b2,
               round(quantile_cont(score, 0.75), 6) AS b3
        FROM scored
    )
    SELECT CASE WHEN score <= b1 THEN 0
                WHEN score <= b2 THEN 1
                WHEN score <= b3 THEN 2
                ELSE 3 END AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS phase_tokens,
           round(avg(score), 4) AS avg_score,
           round(min(score), 6) AS min_score,
           round(max(score), 6) AS max_score
    FROM scored CROSS JOIN b
    GROUP BY 1
    """,
)
def q159_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("score"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    )
    # boundaries rounded INSIDE Spark SQL (F.round = half away from
    # zero, same convention as DuckDB's round) — Python round() is
    # banker's rounding and could shift an exact .5e-6 tie by 1e-6,
    # reassigning boundary docs to a different phase than the oracle
    b1, b2, b3 = scored.agg(
        F.transform(
            F.percentile("score", F.lit([0.25, 0.50, 0.75])),
            lambda v: F.round(v, 6),
        )
    ).collect()[0][0]
    phase = (
        F.when(F.col("score") <= b1, 0)
        .when(F.col("score") <= b2, 1)
        .when(F.col("score") <= b3, 2)
        .otherwise(3)
    )
    return scored.select(phase.alias("phase"), "score", "n_tokens").groupBy(
        "phase"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("phase_tokens"),
        F.round(F.avg("score"), 4).alias("avg_score"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    )


# ---------------------------------------------------------------------------
# q162 — training-shard export audit: hash-shard the corpus into
# _N_SHARDS fixed shards (the deterministic pseudo-random global
# shuffle a trainer's data loader expects — hash placement IS the
# shuffle, no global sort) and report per-shard balance plus each
# shard's token deviation from the mean. Row-local hashing + one
# shard-cardinality agg; the mean joins back as a broadcast scalar.
# At 100 TB this is the audit run before sealing a shard set: a shard
# > a few percent off the mean starves its data-parallel rank.
# ---------------------------------------------------------------------------

_N_SHARDS = 8
_SHARD_KEY = "'shard:' || CAST(doc_id AS VARCHAR)"
_SHARD_SQL = f"({hash60_sql(_SHARD_KEY)}) % {_N_SHARDS}"


@register(
    "q162_shard_export_audit",
    f"""
    WITH t AS (
        SELECT CAST({_SHARD_SQL} AS BIGINT) AS shard,
               {TX.token_count_sql('text')} AS n_tokens
        FROM documents
    ),
    per AS (
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
        FROM t GROUP BY shard
    ),
    m AS (SELECT avg(shard_tokens) AS mean_tokens FROM per)
    SELECT shard, n_docs, shard_tokens,
           round(shard_tokens / mean_tokens - 1, 6) AS token_dev
    FROM per CROSS JOIN m
    """,
)
def q162_shard_export_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        (
            hash60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
            % _N_SHARDS
        ).alias("shard"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    )
    per = t.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
    )
    m = per.agg(F.avg("shard_tokens").alias("mean_tokens"))
    return per.crossJoin(F.broadcast(m)).select(
        "shard",
        "n_docs",
        "shard_tokens",
        F.round(F.col("shard_tokens") / F.col("mean_tokens") - 1, 6).alias(
            "token_dev"
        ),
    )


# ---------------------------------------------------------------------------
# q163 — data-constrained epoch planning: with a fixed training budget
# split equally across sources (equal sampling weights), small sources
# must repeat; each additional epoch of a source is worth less than the
# last. Per source: epochs = share / unique_tokens and the
# diminishing-returns effective token value
#     effective = U * 2 * (1 - DECAY^k) + (e - k) * U * DECAY^k,
#     k = floor(e), DECAY = 0.5
# (each full repeat contributes DECAY^i * U, the partial epoch
# pro-rata) — the planning table that says which sources are
# repeat-saturated before a run is launched. One source-cardinality
# agg + a scalar total; everything else is row-local math on the
# bounded source table.
# ---------------------------------------------------------------------------

_EPOCH_DECAY = 0.5
_BUDGET_MULT = 2  # budget = 2x total corpus tokens


@register(
    "q163_epoch_planning",
    f"""
    WITH per AS (
        SELECT source,
               CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS unique_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT sum(unique_tokens) * {_BUDGET_MULT}.0 / count(*) AS share
        FROM per
    ),
    e AS (
        SELECT source, unique_tokens, share,
               share / unique_tokens AS epochs,
               floor(share / unique_tokens) AS k
        FROM per CROSS JOIN tot
    )
    SELECT source, unique_tokens,
           CAST(floor(share) AS BIGINT) AS share_tokens,
           round(epochs, 4) AS epochs,
           round(unique_tokens * 2 * (1 - power({_EPOCH_DECAY}, k))
                 + (epochs - k) * unique_tokens * power({_EPOCH_DECAY}, k), 2)
               AS effective_tokens,
           round((unique_tokens * 2 * (1 - power({_EPOCH_DECAY}, k))
                  + (epochs - k) * unique_tokens * power({_EPOCH_DECAY}, k))
                 / share, 6) AS utilization
    FROM e
    """,
)
def q163_epoch_planning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(TX.token_count(F.col("text"))).cast("bigint").alias("unique_tokens")
    )
    tot = per.agg(
        (F.sum("unique_tokens") * _BUDGET_MULT / F.count("*")).alias("share")
    )
    e = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "unique_tokens",
        "share",
        (F.col("share") / F.col("unique_tokens")).alias("epochs"),
        F.floor(F.col("share") / F.col("unique_tokens")).alias("k"),
    )
    decay_k = F.pow(F.lit(_EPOCH_DECAY), F.col("k"))
    effective = (
        F.col("unique_tokens") * 2 * (1 - decay_k)
        + (F.col("epochs") - F.col("k")) * F.col("unique_tokens") * decay_k
    )
    return e.select(
        "source",
        "unique_tokens",
        F.floor("share").cast("bigint").alias("share_tokens"),
        F.round("epochs", 4).alias("epochs"),
        F.round(effective, 2).alias("effective_tokens"),
        F.round(effective / F.col("share"), 6).alias("utilization"),
    )


# ---------------------------------------------------------------------------
# q166 — dataset card: the one-row summary a curated corpus ships with
# (datasheet numbers a consumer reads before training on it): volume,
# exact-duplicate rate, language-mix entropy, mean quality, short-doc
# fraction, source count. One corpus scan feeds three bounded partial
# aggs (scalar, lang-cardinality, fingerprint agg folded to a scalar);
# the card row is assembled by broadcast cross joins of one-row frames.
# ---------------------------------------------------------------------------


@register(
    "q166_dataset_card",
    f"""
    WITH base AS (
        SELECT doc_id, lang, source,
               {TX.token_count_sql('text')} AS ntok,
               {TX.quality_score_sql('text')} AS score,
               {TX.fingerprint_md5_sql('text')} AS fp
        FROM documents
    ),
    scal AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens,
               round(avg(score), 4) AS mean_quality,
               round(avg(CASE WHEN ntok < 20 THEN 1.0 ELSE 0.0 END), 6)
                   AS short_frac,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM base
    ),
    dup AS (
        SELECT round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6)
                   AS exact_dup_rate
        FROM base
    ),
    langs AS (
        SELECT round(-sum(p * ln(p)), 6) AS lang_entropy
        FROM (
            SELECT CAST(count(*) AS DOUBLE)
                   / (SELECT count(*) FROM base) AS p
            FROM base GROUP BY lang
        )
    )
    SELECT * FROM scal CROSS JOIN dup CROSS JOIN langs
    """,
)
def q166_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        TX.token_count(F.col("text")).alias("ntok"),
        TX.quality_score(F.col("text")).alias("score"),
        TX.fingerprint_md5(F.col("text")).alias("fp"),
        # r13 (guide §8: decide on small rows): four aggregations
        # consume base, and its lineage is the expensive per-doc work
        # (regex tokenize + quality score + md5) over the corpus text.
        # The narrow 5-column proxy (no text) materializes once instead
        # of four corpus scans.
    ).transform(barrier)
    scal = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("ntok").cast("bigint").alias("total_tokens"),
        F.round(F.avg("score"), 4).alias("mean_quality"),
        F.round(
            F.avg(F.when(F.col("ntok") < 20, 1.0).otherwise(0.0)), 6
        ).alias("short_frac"),
        F.countDistinct("source").alias("n_sources"),
    )
    dup = base.agg(
        F.round(
            1.0 - F.countDistinct("fp").cast("double") / F.count("*"), 6
        ).alias("exact_dup_rate")
    )
    n = base.agg(F.count("*").alias("n"))
    langs = (
        base.groupBy("lang")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(n))
        .select((F.col("c").cast("double") / F.col("n")).alias("p"))
        .agg(F.round(-F.sum(F.col("p") * F.log(F.col("p"))), 6).alias("lang_entropy"))
    )
    return scal.crossJoin(F.broadcast(dup)).crossJoin(F.broadcast(langs))


# ---------------------------------------------------------------------------
# q168 — per-source boilerplate scan: n-gram shingles that recur across
# a large share of ONE source's documents are crawler boilerplate
# (cookie banners, footers, navigation) — removing them is a standard
# pre-training cleanup distinct from cross-corpus dedup (the shingle is
# frequent WITHIN a source, not duplicated between documents at random).
# The synthetic corpus has no boilerplate, so a per-source footer is
# planted on every even doc_id (identically in both engines — the q48
# planted-PII pattern); the operator under test is the detector:
# distinct (source, shingle, doc) explode, a (source, shingle) doc
# count, share against the source's doc count, threshold. Group keys
# are (source x shingle) — at 100 TB this is the same bounded inverted-
# index shape as the dedup family, and the report is source-sized.
# ---------------------------------------------------------------------------

_BOILER_N = 5
_BOILER_SHARE = 0.25


@register(
    "q168_boilerplate_scan",
    f"""
    WITH staged AS (
        SELECT doc_id, source,
               -- plant on (doc_id // 20) % 2 so the footer varies
               -- WITHIN each source (doc_id % 2 would correlate
               -- perfectly with the round-robin source assignment)
               text || CASE WHEN (doc_id // 20) % 2 = 0
                   THEN ' copyright footer ' || source
                        || ' all rights reserved'
                   ELSE '' END AS text
        FROM documents
    ),
    toks AS (SELECT doc_id, source, {TX.tokens_sql('text')} AS t FROM staged),
    pairs AS (
        SELECT DISTINCT doc_id, source, shingle
        FROM (
            SELECT doc_id, source,
                   unnest({TX.shingles_from_tokens_sql('t', _BOILER_N)}) AS shingle
            FROM toks
        )
    ),
    nds AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    counts AS (
        SELECT p.source, p.shingle,
               count(*) AS nd, max(d.n_docs) AS n_docs
        FROM pairs p JOIN nds d ON d.source = p.source
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(max(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN nd * 1.0 / n_docs >= {_BOILER_SHARE}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_shingles,
           round(max(nd * 1.0 / n_docs), 6) AS max_share
    FROM counts
    GROUP BY source
    """,
)
def q168_boilerplate_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.text import shingles_from_tokens

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.expr("(doc_id div 20) % 2") == 0,
                F.concat(
                    F.lit(" copyright footer "),
                    F.col("source"),
                    F.lit(" all rights reserved"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    pairs = (
        staged.select("doc_id", "source", TX.tokens(F.col("text")).alias("t"))
        .select(
            "doc_id",
            "source",
            F.explode_outer(shingles_from_tokens(F.col("t"), _BOILER_N)).alias(
                "shingle"
            ),
        )
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )
    nds = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    counts = (
        pairs.join(F.broadcast(nds), "source")
        .groupBy("source", "shingle")
        .agg(F.count("*").alias("nd"), F.max("n_docs").alias("n_docs"))
    )
    share = F.col("nd") * 1.0 / F.col("n_docs")
    return counts.groupBy("source").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.sum(F.when(share >= _BOILER_SHARE, 1).otherwise(0))
        .cast("bigint")
        .alias("n_boiler_shingles"),
        F.round(F.max(share), 6).alias("max_share"),
    )


# ---------------------------------------------------------------------------
# q201 — temperature-sampled data-mixing plan: the per-source sampling
# weights a multilingual / multi-source pretraining run uses
# (mT5/XLM-R convention): w_i = p_i^τ / Σ p_j^τ over raw token shares
# p_i, with τ < 1 up-weighting small sources. For each source: raw
# token share, temperature weight, the planned token draw under a
# fixed per-epoch budget, and the oversampling factor (planned /
# owned — >1 means the source repeats within one epoch; the number
# dataset cards report). Scale shape: one corpus scan collapses to a
# source-cardinality frame; everything after is broadcast scalars —
# the plan is O(sources) no matter the corpus size.
# ---------------------------------------------------------------------------

_MIX_TAU = 0.7
_MIX_BUDGET = 100_000


@register(
    "q201_mixing_plan",
    f"""
    WITH per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum({TX.token_count_sql('text')}) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens) AS t FROM per),
    shares AS (
        SELECT per.*, CAST(n_tokens AS DOUBLE) / tot.t AS p,
               pow(CAST(n_tokens AS DOUBLE) / tot.t, {_MIX_TAU!r}) AS pw
        FROM per CROSS JOIN tot
    ),
    z AS (SELECT sum(pw) AS z FROM shares)
    SELECT source, n_docs, n_tokens,
           round(p, 6) AS raw_share,
           round(pw / z.z, 6) AS temp_weight,
           CAST(round(pw / z.z * {_MIX_BUDGET}, 0) AS BIGINT) AS planned_tokens,
           round(pw / z.z * {_MIX_BUDGET} / n_tokens, 6) AS oversample_factor
    FROM shares CROSS JOIN z
    """,
)
def q201_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("t"))
    shares = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("t")).alias("p"),
        F.pow(F.col("n_tokens").cast("double") / F.col("t"), _MIX_TAU).alias(
            "pw"
        ),
    )
    z = shares.agg(F.sum("pw").alias("z"))
    wgt = F.col("pw") / F.col("z")
    return shares.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p", 6).alias("raw_share"),
        F.round(wgt, 6).alias("temp_weight"),
        F.round(wgt * _MIX_BUDGET, 0).cast("bigint").alias("planned_tokens"),
        F.round(wgt * _MIX_BUDGET / F.col("n_tokens"), 6).alias(
            "oversample_factor"
        ),
    )


# ---------------------------------------------------------------------------
# q224 — DoReMi-style domain reweighting, one exponential-weights step
# (Xie et al. 2023's Group-DRO update, with the proxy-model excess
# loss replaced by a deterministic information-theoretic stand-in):
# each source's excess loss is KL(p_source || p_corpus) over the
# unigram distribution — exactly the extra nats/token a corpus-trained
# unigram LM pays on that source — and the mixture update is
# w ∝ token_share · exp(η·KL), normalized. Sources that look least
# like the corpus average get UPWEIGHTED (the DRO direction); η is
# the step size. q201 prices sources by size (temperature); this
# prices them by distributional distinctiveness — the two mixing
# plans a data team actually compares.
# Scale: one (source, word) agg (vocab x sources bounded), corpus
# word totals broadcast onto it, then source-sized arithmetic; the
# normalizer is a 1-row broadcast. No corpus-scale joins.
# ---------------------------------------------------------------------------

_DOREMI_ETA = 1.0


@register(
    "q224_doremi_reweight",
    f"""
    WITH dw AS (
        SELECT source, word FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(lower(text)), ' +')) AS word
            FROM documents
        ) WHERE word <> ''
    ),
    sw AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS n_sw
        FROM dw GROUP BY source, word
    ),
    st AS (SELECT source, CAST(sum(n_sw) AS BIGINT) AS n_s
           FROM sw GROUP BY source),
    wt AS (SELECT word, CAST(sum(n_sw) AS BIGINT) AS c_w
           FROM sw GROUP BY word),
    tot AS (SELECT CAST(sum(n_sw) AS BIGINT) AS n FROM sw),
    kl AS (
        SELECT sw.source, st.n_s,
               sum((CAST(sw.n_sw AS DOUBLE) / st.n_s)
                   * ln((CAST(sw.n_sw AS DOUBLE) / st.n_s)
                        / (CAST(wt.c_w AS DOUBLE) / tot.n))) AS kl_excess
        FROM sw
        JOIN st ON st.source = sw.source
        JOIN wt ON wt.word = sw.word
        CROSS JOIN tot
        GROUP BY sw.source, st.n_s
    ),
    raw AS (
        SELECT kl.source, kl.n_s, kl.kl_excess,
               CAST(kl.n_s AS DOUBLE) / tot.n AS share,
               (CAST(kl.n_s AS DOUBLE) / tot.n)
                   * exp({_DOREMI_ETA!r} * kl.kl_excess) AS w_raw
        FROM kl CROSS JOIN tot
    ),
    z AS (SELECT sum(w_raw) AS z FROM raw)
    SELECT source,
           CAST(n_s AS BIGINT) AS n_tokens,
           round(share, 6) AS token_share,
           round(kl_excess, 6) AS kl_excess,
           round(w_raw / z.z, 6) AS weight
    FROM raw CROSS JOIN z
    """,
)
def q224_doremi_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias(
            "word"
        ),
    ).filter(F.col("word") != "")
    # sw feeds FOUR consumers (per-source totals, corpus word totals,
    # the grand total, and the KL join) — materialize the one
    # corpus-scale agg instead of re-scanning the corpus per consumer.
    sw = (
        dw.groupBy("source", "word")
        .agg(F.count("*").cast("bigint").alias("n_sw"))
        .transform(barrier)
    )
    st = sw.groupBy("source").agg(F.sum("n_sw").cast("bigint").alias("n_s"))
    wt = sw.groupBy("word").agg(F.sum("n_sw").cast("bigint").alias("c_w"))
    tot = sw.agg(F.sum("n_sw").cast("bigint").alias("n"))
    p_s = F.col("n_sw").cast("double") / F.col("n_s")
    p_c = F.col("c_w").cast("double") / F.col("n")
    kl = (
        sw.join(F.broadcast(st), "source")
        .join(F.broadcast(wt), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "n_s")
        .agg(F.sum(p_s * F.log(p_s / p_c)).alias("kl_excess"))
    )
    raw = kl.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_s",
        "kl_excess",
        (F.col("n_s").cast("double") / F.col("n")).alias("share"),
        (
            (F.col("n_s").cast("double") / F.col("n"))
            * F.exp(F.lit(_DOREMI_ETA) * F.col("kl_excess"))
        ).alias("w_raw"),
    ).transform(barrier)  # source-sized; normalizer + output
    z = raw.agg(F.sum("w_raw").alias("z"))
    return raw.crossJoin(F.broadcast(z)).select(
        "source",
        F.col("n_s").cast("bigint").alias("n_tokens"),
        F.round(F.col("share"), 6).alias("token_share"),
        F.round(F.col("kl_excess"), 6).alias("kl_excess"),
        F.round(F.col("w_raw") / F.col("z"), 6).alias("weight"),
    )


# ---------------------------------------------------------------------------
# q231 — mojibake / encoding-noise screen: double-encoded UTF-8 read
# as Latin-1 leaves the telltale 'Ã'/'Â' lead bytes, and lossy
# decodes leave U+FFFD replacement chars — the single most common
# text-corruption class in web crawl. The synthetic corpus is clean,
# so (the q48 planted-payload convention) deterministic mojibake is
# planted from doc_id identically in both engines, then the screen —
# which is the operator under test — counts the artifacts per doc.
# Row-local regexp in codegen, zero shuffles before the per-source
# agg; at 100 TB this is a map-only pass.
# ---------------------------------------------------------------------------

_MOJI_SUFFIX_SQL = (
    "CASE WHEN doc_id % 6 = 0 THEN ' cafÃ© menÃº'"
    " ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' data�dump' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' priceÂ 100'"
    " ELSE '' END"
)

_MOJI_LEAD_RE = "[ÃÂ]"
_REPL_RE = "�"


def _with_synthetic_mojibake(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    moji = F.when(
        did % 6 == 0, F.lit(" cafÃ© menÃº")
    ).otherwise(F.lit(""))
    repl = F.when(did % 7 == 0, F.lit(" data�dump")).otherwise(F.lit(""))
    nbsp = F.when(
        did % 11 == 0, F.lit(" priceÂ 100")
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        "source",
        F.concat(F.col("text"), moji, repl, nbsp).alias("text"),
    )


@register(
    "q231_mojibake_screen",
    f"""
    WITH planted AS (
        SELECT doc_id, source, text || {_MOJI_SUFFIX_SQL} AS text
        FROM documents
    ),
    scanned AS (
        SELECT source,
               len(regexp_extract_all(text, '{_MOJI_LEAD_RE}'))
                   AS n_moji,
               len(regexp_extract_all(text, '{_REPL_RE}')) AS n_repl
        FROM planted
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_moji + n_repl > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(sum(n_moji) AS BIGINT) AS n_mojibake_chars,
           CAST(sum(n_repl) AS BIGINT) AS n_replacement_chars,
           round(avg(CASE WHEN n_moji + n_repl > 0 THEN 1.0 ELSE 0.0 END),
                 4) AS flag_share
    FROM scanned
    GROUP BY source
    """,
)
def q231_mojibake_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_synthetic_mojibake(load_table(spark, sf_dir, "documents"))
    n_moji = F.regexp_count(F.col("text"), F.lit(_MOJI_LEAD_RE))
    n_repl = F.regexp_count(F.col("text"), F.lit(_REPL_RE))
    scanned = docs.select(
        "source", n_moji.alias("n_moji"), n_repl.alias("n_repl")
    )
    flagged = F.col("n_moji") + F.col("n_repl") > 0
    return scanned.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(flagged.cast("int")).cast("bigint").alias("n_flagged"),
        F.sum("n_moji").cast("bigint").alias("n_mojibake_chars"),
        F.sum("n_repl").cast("bigint").alias("n_replacement_chars"),
        F.round(
            F.avg(F.when(flagged, F.lit(1.0)).otherwise(F.lit(0.0))), 4
        ).alias("flag_share"),
    )


# ---------------------------------------------------------------------------
# q232 — code-vs-prose screen: a pretraining mixer needs to ROUTE
# code (to the code pipeline, with its own dedup/quality rules)
# rather than let prose screens junk it. Deterministic code fragments
# are planted from doc_id (q48 convention); the screen scores symbol
# density + code-keyword hits, both row-local regexps in codegen —
# zero shuffles before the per-source agg.
# ---------------------------------------------------------------------------

_CODE_SUFFIX_SQL = (
    "CASE WHEN doc_id % 5 = 0 THEN ' def fn_' || CAST(doc_id AS VARCHAR)"
    " || '(x): return x * 2' ELSE '' END"
    " || CASE WHEN doc_id % 9 = 0 THEN ' config = " + "{" + "\"k\": '"
    " || CAST(doc_id % 10 AS VARCHAR) || '" + "}" + ";' ELSE '' END"
    " || CASE WHEN doc_id % 13 = 0 THEN"
    " ' for (i = 0; i < 10; i++) " + "{" + " total += i; " + "}" + "'"
    " ELSE '' END"
)

_CODE_SYM_RE = r"[{}();=+*<>\[\]]"
_CODE_KW_RE = r"\b(def|return|for|while|var|function|config)\b"
_CODE_SYM_TAU = 0.02


def _with_synthetic_code(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    pydef = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" def fn_"), did.cast("string"), F.lit("(x): return x * 2")
        ),
    ).otherwise(F.lit(""))
    js = F.when(
        did % 9 == 0,
        F.concat(
            F.lit(' config = {"k": '),
            (did % 10).cast("string"),
            F.lit("};"),
        ),
    ).otherwise(F.lit(""))
    loop = F.when(
        did % 13 == 0, F.lit(" for (i = 0; i < 10; i++) { total += i; }")
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        "source",
        F.concat(F.col("text"), pydef, js, loop).alias("text"),
    )


@register(
    "q232_code_prose_screen",
    f"""
    WITH planted AS (
        SELECT doc_id, source, text || {_CODE_SUFFIX_SQL} AS text
        FROM documents
    ),
    scanned AS (
        SELECT source,
               len(regexp_extract_all(text, '{_CODE_SYM_RE}'))
                   AS n_sym,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '{_CODE_KW_RE}')) AS n_kw
        FROM planted
    ),
    scored AS (
        SELECT source,
               CAST(n_sym AS DOUBLE) / n_chars AS sym_density,
               (CAST(n_sym AS DOUBLE) / n_chars >= {_CODE_SYM_TAU}
                OR n_kw > 0) AS is_code
        FROM scanned
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN is_code THEN 1 ELSE 0 END) AS BIGINT)
               AS n_code,
           round(avg(CASE WHEN is_code THEN 1.0 ELSE 0.0 END), 4)
               AS code_share,
           round(avg(sym_density), 6) AS avg_sym_density
    FROM scored
    GROUP BY source
    """,
)
def q232_code_prose_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_synthetic_code(load_table(spark, sf_dir, "documents"))
    n_sym = F.regexp_count(F.col("text"), F.lit(_CODE_SYM_RE))
    n_kw = F.regexp_count(F.col("text"), F.lit(_CODE_KW_RE))
    sym_density = n_sym.cast("double") / F.length("text")
    scored = docs.select(
        "source",
        sym_density.alias("sym_density"),
        (
            (sym_density >= F.lit(_CODE_SYM_TAU)) | (n_kw > 0)
        ).alias("is_code"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("is_code").cast("int")).cast("bigint").alias("n_code"),
        F.round(
            F.avg(
                F.when(F.col("is_code"), F.lit(1.0)).otherwise(F.lit(0.0))
            ),
            4,
        ).alias("code_share"),
        F.round(F.avg("sym_density"), 6).alias("avg_sym_density"),
    )


# ---------------------------------------------------------------------------
# q244 — PARTITION-PRUNED eval-set probe of the stored shingle index:
# the production contamination check against a SMALL eval set should
# read only the posting buckets that can contain the eval shingles —
# not the whole index. The eval dictionary (docs < 5 here, benchmarks
# are small by construction) collapses to its ≤N_POSTING_BUCKETS
# distinct bucket ids (one bounded collect, the BPE-argmax class);
# the probe scan then carries a PartitionFilter on those buckets
# (plan-asserted), so at 100 TB the check reads |eval buckets| /
# N_POSTING_BUCKETS of the index at rest — the q173 pruned-probe
# pattern applied to the text index. Per-source hit accounting mirrors
# q119's contract at source grain.
# ---------------------------------------------------------------------------


@register(
    "q244_pruned_eval_probe",
    f"""
    WITH t AS (
        SELECT doc_id, source, {TX.tokens_sql('text')} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, source,
               unnest(list_distinct({TX.shingles_from_tokens_sql('t', SHINGLE_N)}))
                   AS shingle
        FROM t
    ),
    e AS (SELECT DISTINCT shingle FROM g WHERE doc_id < 5),
    tr AS (SELECT doc_id, source, shingle FROM g WHERE doc_id >= 10),
    hits AS (
        SELECT tr.source, tr.doc_id, count(*) AS n_hit
        FROM tr JOIN e USING (shingle)
        GROUP BY tr.source, tr.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_hit,
           CAST(sum(n_hit) AS BIGINT) AS n_gram_hits,
           CAST(max(n_hit) AS BIGINT) AS max_hits_one_doc
    FROM hits
    GROUP BY source
    """,
)
def q244_pruned_eval_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    art = shingle_artifact_dir(spark, sf_dir)
    post = SHI.stored_postings(spark, art)
    ev = (
        post.filter(F.col("doc_id") < 5)
        .select("shingle", "bucket")
        .distinct()
        .transform(barrier)  # eval-set-bounded
    )
    # bounded collect: the DISTINCT bucket ids the eval set occupies
    # (≤ N_POSTING_BUCKETS scalars) become a literal IN-filter, which
    # is the only way a static partition prune can reach the scan
    buckets = [
        r["bucket"] for r in ev.select("bucket").distinct().collect()
    ]
    probe = post.filter(
        (F.col("doc_id") >= 10) & F.col("bucket").isin(buckets)
    )
    hits = (
        probe.join(
            F.broadcast(ev.select("shingle").distinct()), "shingle"
        )
        .groupBy("source", "doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return hits.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs_hit"),
        F.sum("n_hit").cast("bigint").alias("n_gram_hits"),
        F.max("n_hit").cast("bigint").alias("max_hits_one_doc"),
    )
