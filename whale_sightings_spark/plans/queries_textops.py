"""Text/web corpus operators, family 2 (net-new training-data surface
beyond the q20-q22/q48-q51 curation set):

- q69 URL parsing + per-domain aggregation (web-corpus provenance audit)
- q70 blocked fuzzy join (edit-distance near-match with prefix blocking)
- q74 token co-occurrence PMI over a bounded vocabulary

Scale notes inline; the dedup-family guard conventions (bounded
dictionaries, blocking keys, caps mirrored in the oracle) apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.functions import text as TX
from whale_sightings_spark.plans.queries import register
from whale_sightings_spark.plans.store_utils import artifact_dir
from whale_sightings_spark.schemas import load_table
from whale_sightings_spark.session import barrier


# ---------------------------------------------------------------------------
# q69 — URL parsing + domain aggregation: the provenance audit every web
# corpus needs (which hosts contributed how many documents). URLs are
# derived deterministically from the documents table (no URL column in
# the testdata), parsed with Spark's native parse_url — JVM-side, no
# UDF — and aggregated per host. Row-local parse + one small-group
# shuffle; at 100 TB the group count is the number of distinct hosts.
# ---------------------------------------------------------------------------

@register(
    "q69_url_domains",
    """
    WITH urls AS (
        SELECT 'https://' || source || '.example.com/docs/' || doc_id
                 || '?ref=' || lang AS url,
               lang
        FROM documents
    )
    SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           min(regexp_extract(url, 'https://[^/]+(/[^?]*)', 1)) AS first_path
    FROM urls
    GROUP BY 1
    """,
)
def q69_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id"),
            F.lit("?ref="),
            F.col("lang"),
        ).alias("url"),
        "lang",
    )
    return (
        urls.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            "lang",
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("path").alias("first_path"),
        )
    )


# ---------------------------------------------------------------------------
# q70 — blocked fuzzy join: edit-distance near-matching made scalable by
# prefix blocking. All-pairs Levenshtein is quadratic and unrunnable at
# corpus scale; blocking on (lang, first 8 chars) turns it into an
# equi-join whose pair space is sum of block^2 — linear when blocks are
# bounded. Hot blocks above MAX_BLOCK rows are dropped on BOTH sides
# (mirrored in the oracle), the same guard contract as the dedup
# family's MAX_BAND_BUCKET. The distance probe runs on a fixed 40-char
# prefix so per-pair cost is O(40^2) regardless of document length.
# ---------------------------------------------------------------------------

_MAX_BLOCK = 200
_FUZZY_MAX_DIST = 20


@register(
    "q70_fuzzy_blocked_join",
    f"""
    WITH d AS (
        SELECT doc_id, lang,
               substr(text, 1, 8) AS pfx,
               substr(text, 1, 40) AS probe
        FROM documents
    ),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY lang, pfx) AS block_n FROM d
    ),
    kept AS (
        SELECT * FROM sized WHERE block_n <= {_MAX_BLOCK}
    )
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           levenshtein(a.probe, b.probe) AS dist
    FROM kept a JOIN kept b
      ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id
    WHERE levenshtein(a.probe, b.probe) <= {_FUZZY_MAX_DIST}
    """,
)
def q70_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.substring("text", 1, 8).alias("pfx"),
        F.substring("text", 1, 40).alias("probe"),
    )
    sized = d.withColumn("block_n", F.count("*").over(W.partitionBy("lang", "pfx")))
    kept = sized.filter(F.col("block_n") <= _MAX_BLOCK)
    a = kept.alias("a")
    b = kept.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.pfx") == F.col("b.pfx"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    dist = F.levenshtein(F.col("a.probe"), F.col("b.probe"))
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        dist.alias("dist"),
    ).filter(F.col("dist") <= _FUZZY_MAX_DIST)


# ---------------------------------------------------------------------------
# q74 — pointwise mutual information over token co-occurrence, the
# classic collocation / embedding-prep statistic. The pair space is
# bounded by restricting to the top-VOCAB_K tokens by document
# frequency (deterministic tie-break), so the within-doc self-join
# expands at most VOCAB_K^2/2 pairs per document regardless of corpus
# size. Doc count N is a broadcast single-row aggregate (no driver
# count()). Three bounded shuffles: doc-frequency agg, pair-count agg,
# top-k window over the pair table.
# ---------------------------------------------------------------------------

_VOCAB_K = 50
_TOP_PAIRS = 25


@register(
    "q74_pmi_pairs",
    f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest({TX.tokens_sql("text")}) AS tok
        FROM documents
        WHERE trim(text) <> ''
    ),
    df AS (
        SELECT tok, count(*) AS n_docs FROM dt GROUP BY tok
    ),
    vocab AS (
        SELECT tok, n_docs FROM df
        ORDER BY n_docs DESC, tok LIMIT {_VOCAB_K}
    ),
    vt AS (
        SELECT dt.doc_id, dt.tok, v.n_docs
        FROM dt JOIN vocab v ON dt.tok = v.tok
    ),
    pairs AS (
        SELECT a.tok AS t1, b.tok AS t2,
               count(*) AS n_ab,
               max(a.n_docs) AS n_a,
               max(b.n_docs) AS n_b
        FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    ),
    total AS (SELECT count(DISTINCT doc_id) AS n FROM dt)
    SELECT t1, t2, n_ab,
           round(ln(CAST(n_ab * total.n AS DOUBLE) / (n_a * n_b)), 6) AS pmi
    FROM pairs CROSS JOIN total
    ORDER BY n_ab DESC, t1, t2 LIMIT {_TOP_PAIRS}
    """,
)
def q74_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 9): the distinct (doc, token) event
    # stream IS the LM store's doc_uni projection (per-doc counts of
    # non-empty tokens — docs with only whitespace contribute nothing,
    # matching the trim(text) <> '' guard), so the PMI statistic never
    # tokenizes the corpus.
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    dt = LM.stored_doc_uni(spark, art).select("doc_id", "tok")
    df = dt.groupBy("tok").agg(F.count("*").alias("n_docs"))
    vocab = df.orderBy(F.col("n_docs").desc(), "tok").limit(_VOCAB_K)
    vt = dt.join(F.broadcast(vocab), "tok").select("doc_id", "tok", "n_docs")
    a = vt.alias("a")
    b = vt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("t1"), F.col("b.tok").alias("t2"))
        .agg(
            F.count("*").alias("n_ab"),
            F.max("a.n_docs").alias("n_a"),
            F.max("b.n_docs").alias("n_b"),
        )
    )
    total = dt.agg(F.countDistinct("doc_id").alias("n"))
    return (
        pairs.crossJoin(F.broadcast(total))
        .select(
            "t1",
            "t2",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("n")).cast("double")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("n_ab").desc(), "t1", "t2")
        .limit(_TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# q103 — BM25 full-text ranking: top-k documents for a bounded query
# term set. The retrieval scorer behind every lexical search / RAG
# recall stage. Round 9: served from the persisted LM store — tf is a
# bucket-pruned probe of the stored doc_uni postings (PartitionFilter
# on the terms' hash buckets), |d| and the N/avgdl scalars read the
# O(documents) doc_len table; the corpus text is never touched at
# query time. The tf table stays bounded by |docs matching| x |terms|;
# df and the scalars are broadcast single-digit-row aggregates; the
# per-doc score sum is one keyed shuffle; top-k via TakeOrdered.
# k1=1.2, b=0.75 (the standard Robertson parameters); idf is the
# Lucene-style ln(1 + (N - df + 0.5)/(df + 0.5)) which is always
# positive.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP = 15


#: q103's full oracle SQL, shared with the q123 hybrid-search oracle
#: (one spec, two consumers — the CTE names stay local to each use)
_BM25_SQL = f"""
    WITH toks AS (
        SELECT doc_id, unnest({TX.tokens_sql('text')}) AS tok FROM documents
    ),
    dl AS (
        SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id
    ),
    stats AS (
        SELECT count(*) AS n_docs, avg(len) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks
        WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, count(*) AS df FROM tf GROUP BY tok
    ),
    scored AS (
        SELECT tf.doc_id,
               sum(
                   ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                        + {_BM25_B} * dl.len / stats.avgdl))
               ) AS score
        FROM tf
        JOIN df ON df.tok = tf.tok
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 6) AS score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOP}
    """


@register("q103_bm25_search", _BM25_SQL)
def q103_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 9): tf comes off the LM store's
    # bucket-pruned doc_uni probe (a partition-pruned read of the
    # terms' buckets, never a corpus tokenize), |d| and the
    # (n_docs, avgdl) scalars off the O(documents) doc_len table.
    # The stored counts are the exact integers the inline explode
    # produced, so the scoring math below is unchanged bit-for-bit.
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    tf = (
        LM.stored_term_postings(spark, art, _BM25_TERMS)
        .groupBy("doc_id", "tok")
        .agg(F.sum("n").alias("tf"))
    )
    dl = (
        LM.stored_doc_len(spark, art)
        .filter(F.col("len").isNotNull())
        .select("doc_id", "len")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("len").alias("avgdl")
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            F.log(
                1
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * F.col("tf")
            * (_BM25_K1 + 1)
            / (
                F.col("tf")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("len") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(_BM25_TOP)
    )


# ---------------------------------------------------------------------------
# q123 — hybrid search via reciprocal rank fusion: the BM25 lexical
# top-15 (q103) fused with the embedding cosine top-15 for query
# vector 0 by RRF(d) = sum_lists 1/(K + rank_d). Both inputs are
# k-sized result lists, so every fusion stage is bounded: lexical
# ranks come from one scalar collect over the 15-row list (array_sort
# + posexplode — no global window, no re-execution of the BM25
# pipeline per rank), the semantic list reuses the brute-force ANN
# operator (WindowGroupLimit top-k per query), and the fuse is a
# k x k full outer join. At 100 TB only the two retrieval stages see
# the corpus; fusion cost is O(k).
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOP = 10
_SEM_QUERY_VEC = 0

_SEM_TOP15_SQL = f"""
        SELECT neighbor_id AS doc_id, CAST(rank AS INT) AS sem_rank FROM (
            SELECT c.vec_id AS neighbor_id,
                   row_number() OVER (
                       ORDER BY round({{cos}}, 6) DESC, c.vec_id
                   ) AS rank
            FROM embeddings c
            CROSS JOIN (SELECT embedding AS qvec FROM embeddings
                        WHERE vec_id = {_SEM_QUERY_VEC}) q
            WHERE c.vec_id <> {_SEM_QUERY_VEC}
        ) WHERE rank <= 15
"""


def _q123_oracle() -> str:
    from whale_sightings_spark.operators.similarity import cosine_sql

    sem = _SEM_TOP15_SQL.format(cos=cosine_sql("q.qvec", "c.embedding"))
    return f"""
    WITH lex AS ({_BM25_SQL}),
    lexr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                 AS lex_rank
        FROM lex
    ),
    sem AS ({sem})
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           l.lex_rank, s.sem_rank,
           round(coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + l.lex_rank), 0)
                 + coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + s.sem_rank), 0),
                 6) AS rrf
    FROM lexr l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT {_RRF_TOP}
    """


@register("q123_hybrid_rrf", _q123_oracle())
def q123_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.operators.similarity import ann_bruteforce_topk

    lex = q103_bm25_search(spark, sf_dir)
    # ranks of a 15-row list: one scalar collect, sorted (score desc,
    # doc_id asc) by negating the score inside the sort struct
    lexr = (
        lex.agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("score")).alias("ns"), "doc_id"))
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.doc_id").alias("doc_id"),
            (F.col("pos") + 1).cast("int").alias("lex_rank"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem = ann_bruteforce_topk(emb, n_queries=_SEM_QUERY_VEC + 1, k=15).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    one = F.lit(1).cast("double")
    return (
        lexr.join(sem, ["doc_id"], "full")
        .withColumn(
            "rrf",
            F.round(
                F.coalesce(one / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(one / (F.lit(_RRF_K) + F.col("sem_rank")), F.lit(0.0)),
                6,
            ),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(_RRF_TOP)
        .select("doc_id", "lex_rank", "sem_rank", "rrf")
    )


# ---------------------------------------------------------------------------
# q115 — PII redaction: emails and phone-shaped numbers replaced with
# typed placeholder tokens (functions.text.redact_pii — native chained
# regexp_replace, JVM-side, patterns restricted to the Java-regex/RE2
# common subset so both engines substitute identically). The corpus
# text carries no PII, so a deterministic contact line is appended per
# doc before scrubbing — the redaction itself is the operator under
# test, pinned by match counts, a no-residue check on BOTH patterns,
# and the md5 of the redacted text. Row-local; no shuffle at all.
# ---------------------------------------------------------------------------

from whale_sightings_spark.functions.text import (  # noqa: E402
    EMAIL_RE,
    PHONE_RE,
    redact_pii,
    redact_pii_sql,
)

_RAW_PII_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
    " or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@register(
    "q115_pii_redaction",
    f"""
    WITH raw AS (
        SELECT doc_id, {_RAW_PII_SQL} AS raw FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS INT) AS n_phones,
           len(regexp_extract_all({redact_pii_sql('raw')}, '{EMAIL_RE}')) = 0
             AND len(regexp_extract_all({redact_pii_sql('raw')}, '{PHONE_RE}')) = 0
             AS clean,
           md5({redact_pii_sql('raw')}) AS redacted_md5
    FROM raw
    """,
)
def q115_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("raw"),
    )
    red = raw.withColumn("redacted", redact_pii(F.col("raw")))
    return red.select(
        "doc_id",
        F.regexp_count("raw", F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("raw", F.lit(PHONE_RE)).cast("int").alias("n_phones"),
        (
            (F.regexp_count("redacted", F.lit(EMAIL_RE)) == 0)
            & (F.regexp_count("redacted", F.lit(PHONE_RE)) == 0)
        ).alias("clean"),
        F.md5("redacted").alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# q117 — context-window chunking with overlap: each document splits
# into token windows of _CHUNK_WIDTH with stride _CHUNK_STRIDE (10-token
# overlap) — the pre-tokenization step that turns documents into
# training sequences while keeping boundary context. Entirely row-local
# (sequence -> posexplode -> slice): zero shuffles, and the chunk md5
# pins the exact token content of every window in both engines.
# ---------------------------------------------------------------------------

_CHUNK_WIDTH = 50
_CHUNK_STRIDE = 40


@register(
    "q117_chunk_with_overlap",
    f"""
    WITH toks AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
    ),
    s AS (
        SELECT doc_id, t,
               unnest(range(0, len(t), {_CHUNK_STRIDE})) AS start_tok
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(start_tok // {_CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(t[start_tok + 1 : start_tok + {_CHUNK_WIDTH}]) AS INT)
               AS chunk_len,
           md5(array_to_string(t[start_tok + 1 : start_tok + {_CHUNK_WIDTH}], ' '))
               AS chunk_md5
    FROM s
    """,
)
def q117_chunk_with_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    s = toks.select(
        "doc_id",
        "t",
        F.posexplode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("chunk_idx", "start_tok"),
    )
    chunk = F.slice(F.col("t"), F.col("start_tok") + 1, F.lit(_CHUNK_WIDTH))
    return s.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(chunk).cast("int").alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# q118 — repetition quality flags (the Gopher-style within-document
# screens): fraction of tokens covered by the single most frequent
# 2-gram, and fraction of 2-gram occurrences that are repeats. High
# values mark boilerplate/looping text that survives exact and near-dup
# screens (repetition lives INSIDE one doc). Shapes: row-local shingle
# explode -> (doc, gram) count -> per-doc agg — two keyed shuffles on
# high-cardinality keys, output is doc-sized. Docs with < 2 tokens
# have no 2-grams and drop out (mirrored in both engines).
# ---------------------------------------------------------------------------

_REP_TOP_T = 0.10
_REP_DUP_T = 0.10


@register(
    "q118_repetition_flags",
    f"""
    WITH t AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, len(t) AS n_tokens, unnest({TX.shingles_from_tokens_sql('t', 2)}) AS gram
        FROM t
    ),
    c AS (
        SELECT doc_id, n_tokens, gram, count(*) AS c FROM g GROUP BY 1, 2, 3
    ),
    p AS (
        SELECT doc_id, n_tokens,
               max(c) AS max_c,
               sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_g,
               sum(c) AS tot_g
        FROM c GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           round(2 * max_c / n_tokens, 6) AS top2_frac,
           round(dup_g / tot_g, 6) AS dup2_frac,
           2 * max_c / n_tokens > {_REP_TOP_T}
             OR dup_g / tot_g > {_REP_DUP_T} AS flag_repetitive
    FROM p
    """,
)
def q118_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
    g = t.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.explode(TX.shingles_from_tokens(F.col("t"), 2)).alias("gram"),
    )
    c = g.groupBy("doc_id", "n_tokens", "gram").agg(F.count("*").alias("c"))
    p = c.groupBy("doc_id", "n_tokens").agg(
        F.max("c").alias("max_c"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup_g"),
        F.sum("c").alias("tot_g"),
    )
    top = 2 * F.col("max_c") / F.col("n_tokens")
    dup = F.col("dup_g") / F.col("tot_g")
    return p.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round(top, 6).alias("top2_frac"),
        F.round(dup, 6).alias("dup2_frac"),
        ((top > _REP_TOP_T) | (dup > _REP_DUP_T)).alias("flag_repetitive"),
    )


# ---------------------------------------------------------------------------
# q119 — benchmark contamination screen: training documents sharing
# word 3-grams with a held-out eval set (here: docs 0-4 stand in for
# the benchmark; training = doc_id >= 10). The eval n-gram set is
# BOUNDED (benchmarks are small) and broadcasts onto the training
# shingle stream — the fact side never shuffles for the probe; the
# per-doc overlap count is one keyed agg. Per-doc grams are deduped
# before the join so n_shared counts DISTINCT shared grams.
# ---------------------------------------------------------------------------

_CONTAM_T = 2


@register(
    "q119_contamination_screen",
    f"""
    WITH t AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, unnest({TX.shingles_from_tokens_sql('t', 3)}) AS gram
        FROM t
    ),
    e AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
    tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 10)
    SELECT tr.doc_id,
           count(*) AS n_shared_3grams,
           count(*) >= {_CONTAM_T} AS contaminated
    FROM tr JOIN e USING (gram)
    GROUP BY tr.doc_id
    """,
)
def q119_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 8): distinct (doc_id, gram) pairs
    # come off the persisted shingle index — distinct-of-a-subset ==
    # subset-of-distinct, so the eval dictionary and the training
    # stream are exact projections of the stored postings. Zero
    # Generate-over-text in the serving plan.
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    g = SHI.stored_postings(
        spark, shingle_artifact_dir(spark, sf_dir)
    ).select("doc_id", F.col("shingle").alias("gram"))
    ev = g.filter(F.col("doc_id") < 5).select("gram").distinct()
    tr = g.filter(F.col("doc_id") >= 10)
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared_3grams"),
            (F.count("*") >= _CONTAM_T).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# q124 — duplicated-span screen: the fraction of each document made of
# exact spans that also appear in OTHER documents (the RefinedWeb /
# Dolma "duplicated n-gram fraction" quality signal — finer than
# doc-level exact dedup, coarser than suffix arrays). Non-overlapping
# 32-token spans are hashed row-local (explode + slice + md5, zero
# shuffle); span hashes seen in >= 2 distinct docs come from one keyed
# agg; flagging is a hash-partitioned equi-join of the span table with
# that (smaller) dup-hash set; the per-doc rollup is the second keyed
# shuffle. No stage is ever quadratic and nothing corpus-scale is
# broadcast, so the shape holds at 100 TB unchanged.
# ---------------------------------------------------------------------------

_SPAN_W = 32


@register(
    "q124_duplicated_spans",
    f"""
    WITH t AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS toks FROM documents
    ),
    s AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(toks, start, start + {_SPAN_W} - 1), ' ')) AS h
        FROM (
            SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks), 1) + 1, {_SPAN_W}))
                       AS start
            FROM t
        )
        WHERE len(list_slice(toks, start, start + {_SPAN_W} - 1)) > 0
    ),
    dup AS (
        SELECT h FROM s GROUP BY h HAVING count(DISTINCT doc_id) > 1
    ),
    flagged AS (
        SELECT s.doc_id, CASE WHEN d.h IS NULL THEN 0 ELSE 1 END AS is_dup
        FROM s LEFT JOIN dup d ON d.h = s.h
    )
    SELECT doc_id,
           count(*) AS n_spans,
           sum(is_dup) AS n_dup_spans,
           round(CAST(sum(is_dup) AS DOUBLE) / count(*), 4) AS dup_ratio
    FROM flagged
    GROUP BY doc_id
    HAVING sum(is_dup) > 0
    """,
)
def q124_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
    span = F.slice(F.col("toks"), F.col("start"), _SPAN_W)
    s = (
        t.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("toks"), F.lit(1)),
                    F.lit(_SPAN_W),
                )
            ).alias("start"),
        )
        .filter(F.size(span) > 0)
        .select("doc_id", F.md5(F.concat_ws(" ", span)).alias("h"))
    )
    # r12 (guide §2.4): the dup-set + left-join shape computed the span
    # table TWICE (two corpus tokenize passes) and shuffled it twice on
    # h. One clustering by h now carries everything: (h, doc_id) span
    # counts reuse the h partitioning, the distinct-doc count per h is
    # a window on the same partitioning (rows are unique per
    # (h, doc_id), so count(*) == count(DISTINCT doc_id)), and the
    # per-doc rollup is the only other exchange. Same integers: a doc's
    # dup spans are exactly its spans whose h occurs in >= 2 docs.
    g = (
        s.repartition("h")
        .groupBy("h", "doc_id")
        .agg(F.count("*").alias("c"))
        .withColumn("nd", F.count("*").over(W.partitionBy("h")))
    )
    dup_c = F.sum(F.when(F.col("nd") > 1, F.col("c")).otherwise(F.lit(0)))
    return (
        g.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_spans"),
            dup_c.alias("n_dup_spans"),
            F.round(dup_c / F.sum("c"), 4).alias("dup_ratio"),
        )
        .filter(F.col("n_dup_spans") > 0)
    )


# ---------------------------------------------------------------------------
# q133 — URL canonicalization + variant dedup: the web-corpus
# normalization every crawl pipeline runs before URL-level dedup
# (lowercase scheme/host, drop default port and fragment, strip
# tracking params, sort the surviving query params, trim the trailing
# slash). Four deterministic messy variants of each page URL are
# derived from doc_id; the operator must collapse them to one
# canonical form. Canonicalization is entirely row-local native string
# work (parse_url + split/filter/array_sort/concat — no UDF); the
# variant rollup is one keyed agg on the canonical URL. At 100 TB:
# zero shuffles before the final URL-keyed agg.
# ---------------------------------------------------------------------------

_URL_VARIANT_SQL = """
        CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'https://www.example.com/a/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?utm_source=x&ref=abc'
          WHEN 1 THEN 'HTTPS://www.example.com:443/a/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?ref=abc'
          WHEN 2 THEN 'https://WWW.EXAMPLE.COM/a/' || CAST(doc_id // 4 AS VARCHAR)
                      || '?ref=abc&utm_campaign=y#sec'
          ELSE 'https://www.example.com/a/' || CAST(doc_id // 4 AS VARCHAR)
                      || '/?ref=abc'
        END
"""


@register(
    "q133_url_canonicalize",
    f"""
    WITH u AS (
        SELECT doc_id, {_URL_VARIANT_SQL} AS url FROM documents
    ),
    parts AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host,
               regexp_replace(
                   regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1),
                   '/$', '') AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS query
        FROM u
    ),
    canon AS (
        SELECT doc_id,
               'https://' || host || path ||
               CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
        FROM (
            SELECT doc_id, host, path,
                   array_to_string(list_sort(list_filter(
                       string_split(query, '&'),
                       x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS q
            FROM parts
        )
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM canon
    GROUP BY canonical_url
    """,
)
def q133_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # exact integer division (matches the oracle's doc_id // 4; double
    # division would lose exactness past 2^53)
    page = F.expr("doc_id div 4").cast("string")
    v = (F.col("doc_id") % 4).cast("int")
    url = (
        F.when(v == 0, F.concat(F.lit("https://www.example.com/a/"), page,
                                F.lit("?utm_source=x&ref=abc")))
        .when(v == 1, F.concat(F.lit("HTTPS://www.example.com:443/a/"), page,
                               F.lit("?ref=abc")))
        .when(v == 2, F.concat(F.lit("https://WWW.EXAMPLE.COM/a/"), page,
                               F.lit("?ref=abc&utm_campaign=y#sec")))
        .otherwise(F.concat(F.lit("https://www.example.com/a/"), page,
                            F.lit("/?ref=abc")))
    )
    u = docs.select("doc_id", url.alias("url"))
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.coalesce(F.parse_url("url", F.lit("QUERY")), F.lit("")), "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    canonical = F.concat(
        F.lit("https://"),
        F.lower(F.parse_url("url", F.lit("HOST"))),
        F.regexp_replace(F.parse_url("url", F.lit("PATH")), "/$", ""),
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return (
        u.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# q140 — retrieval-quality audit: nDCG of the BM25 ranking (q103)
# against a deterministic graded relevance label (rel(d) = number of
# distinct query terms d contains, 0-3). Completes the eval triad —
# recall@k for the ANN index (q116), precision/recall for the near-dup
# detector (q134), nDCG for lexical search. Every stage after the two
# retrieval/label scans is k-sized: ranks come from the q123 scalar
# collect (no global window), the ideal ordering is a TakeOrdered
# top-k by (rel desc, doc_id), and DCG/IDCG are scalar folds over
# k-row lists.
# ---------------------------------------------------------------------------

_NDCG_K = _BM25_TOP  # evaluate the full returned list


def _rank_via_collect(df, order_neg_col: str, out_col: str):
    """(doc_id, rank, <order col>) from a k-row list: one scalar
    collect sorted by (<order_neg_col> asc = value desc, doc_id)."""
    arr = df.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(order_neg_col).alias("o"), "doc_id"))
        ).alias("arr")
    )
    return arr.select(F.posexplode("arr").alias("pos", "s")).select(
        F.col("s.doc_id").alias("doc_id"),
        (F.col("pos") + 1).cast("int").alias(out_col),
    )


@register(
    "q140_bm25_ndcg",
    f"""
    WITH lex AS ({_BM25_SQL}),
    lexr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                 AS rank
        FROM lex
    ),
    rel AS (
        SELECT doc_id, count(DISTINCT tok) AS rel FROM (
            SELECT doc_id, unnest({TX.tokens_sql('text')}) AS tok
            FROM documents
        )
        WHERE tok IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY doc_id
    ),
    dcg AS (
        SELECT sum((pow(2, coalesce(r.rel, 0)) - 1) / log2(l.rank + 1)) AS dcg
        FROM lexr l LEFT JOIN rel r USING (doc_id)
    ),
    ideal AS (
        SELECT rel,
               CAST(row_number() OVER (ORDER BY rel DESC, doc_id) AS INT)
                 AS rank
        FROM rel
        ORDER BY rel DESC, doc_id
        LIMIT {_NDCG_K}
    ),
    idcg AS (
        SELECT sum((pow(2, rel) - 1) / log2(rank + 1)) AS idcg FROM ideal
    )
    SELECT round(dcg.dcg, 6) AS dcg,
           round(idcg.idcg, 6) AS idcg,
           round(dcg.dcg / idcg.idcg, 6) AS ndcg
    FROM dcg CROSS JOIN idcg
    """,
)
def q140_bm25_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 9): the graded-relevance side is
    # the same bucket-pruned doc_uni probe q103's tf rides — distinct
    # matched terms per doc — so the whole evaluation never tokenizes
    # or even reads the corpus.
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    lex = q103_bm25_search(spark, sf_dir).withColumn("ns", -F.col("score"))
    lexr = _rank_via_collect(lex, "ns", "rank")
    rel = (
        LM.stored_term_postings(spark, art, _BM25_TERMS)
        .select("doc_id", "tok")
        .distinct()
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("rel"))
    )
    gain = (F.pow(F.lit(2.0), F.coalesce(F.col("rel"), F.lit(0))) - 1) / F.log2(
        F.col("rank") + 1
    )
    dcg = lexr.join(rel, "doc_id", "left").agg(F.sum(gain).alias("dcg"))
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(_NDCG_K)
        .withColumn("nr", -F.col("rel"))
    )
    ideal_r = (
        ideal.agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("nr").alias("o"), "doc_id", "rel"))
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.rel").alias("rel"), (F.col("pos") + 1).cast("int").alias("rank")
        )
    )
    igain = (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("rank") + 1)
    idcg = ideal_r.agg(F.sum(igain).alias("idcg"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .select(
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# q148 — special-token contamination scan: documents containing a
# tokenizer's control sequences ("<|endoftext|>", "<s>", "[INST]", …)
# poison training (injected text can terminate or re-role a sequence),
# so every corpus is scanned for them before tokenization. The corpus
# text carries none, so — the q115 convention — a deterministic subset
# (doc_id % 7 == 0) gets one injected, and the scan itself is the
# operator under test: per-source flagged counts plus which token was
# found. Row-local contains() over a broadcast-literal pattern set,
# one source-cardinality agg; no regex needed (the patterns are fixed
# strings, so the scan stays in whole-stage codegen).
# ---------------------------------------------------------------------------

_SPECIAL_TOKENS = ("<|endoftext|>", "<s>", "[INST]")


@register(
    "q148_special_token_scan",
    f"""
    WITH staged AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' ' ||
                         (['{_SPECIAL_TOKENS[0]}', '{_SPECIAL_TOKENS[1]}',
                           '{_SPECIAL_TOKENS[2]}'])[CAST(doc_id % 3 AS INT) + 1]
                    ELSE text END AS t
        FROM documents
    ),
    flags AS (
        SELECT source,
               {" + ".join(f"(CASE WHEN contains(t, '{tok}') THEN 1 ELSE 0 END)" for tok in _SPECIAL_TOKENS)}
                 AS n_hits,
               {" OR ".join(f"contains(t, '{tok}')" for tok in _SPECIAL_TOKENS)}
                 AS flagged
        FROM staged
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(n_hits) AS BIGINT) AS n_token_hits
    FROM flags
    GROUP BY source
    """,
)
def q148_special_token_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    inject = F.element_at(
        F.array(*[F.lit(t) for t in _SPECIAL_TOKENS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    staged = docs.select(
        "source",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" "), inject)
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    hit = [F.col("t").contains(tok) for tok in _SPECIAL_TOKENS]
    n_hits = sum(
        (F.when(h, 1).otherwise(0) for h in hit), F.lit(0)
    )
    flagged = hit[0] | hit[1] | hit[2]
    return (
        staged.select("source", n_hits.alias("n_hits"), flagged.alias("flagged"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("flagged"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("n_hits").cast("bigint").alias("n_token_hits"),
        )
    )


# ---------------------------------------------------------------------------
# q158 — tokenizer fertility audit: per-language chars-per-token and
# tokens-per-word under the BPE-ish regex tokenizer. The pretraining
# diagnostic behind per-language token budgets: scripts the tokenizer
# fragments (high fertility) consume budget faster than their text
# volume suggests, so budgets allocated in tokens (q109/q147) need this
# table to translate to document counts. Row-local ratios + one
# lang-cardinality agg with map-side partials; docs where either
# tokenizer finds nothing are excluded from the ratio means (zero
# denominators) but still counted.
# ---------------------------------------------------------------------------

@register(
    "q158_tokenizer_fertility",
    f"""
    WITH t AS (
        SELECT lang,
               length(text) AS n_chars,
               {TX.regex_token_count_sql('text')} AS n_subtok,
               {TX.token_count_sql('text')} AS n_words
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_subtok) AS BIGINT) AS total_tokens,
           round(avg(CASE WHEN n_subtok > 0
                          THEN CAST(n_chars AS DOUBLE) / n_subtok END), 4)
               AS chars_per_token,
           round(avg(CASE WHEN n_words > 0
                          THEN CAST(n_subtok AS DOUBLE) / n_words END), 4)
               AS fertility
    FROM t
    GROUP BY lang
    """,
)
def q158_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        TX.regex_token_count(F.col("text")).alias("n_subtok"),
        TX.token_count(F.col("text")).alias("n_words"),
    )
    return t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_subtok").cast("bigint").alias("total_tokens"),
        F.round(
            F.avg(
                F.when(
                    F.col("n_subtok") > 0, F.col("n_chars") / F.col("n_subtok")
                )
            ),
            4,
        ).alias("chars_per_token"),
        F.round(
            F.avg(
                F.when(F.col("n_words") > 0, F.col("n_subtok") / F.col("n_words"))
            ),
            4,
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# q167 — SFT chat-turn audit: parse chat-formatted documents into role
# turns and account the loss mask — the validation an instruction-tuning
# pipeline runs before training (malformed role alternation is silently
# corrosive; the trainable fraction prices the dataset in assistant
# tokens, the only ones that take gradient). Chat markup is derived
# deterministically from the corpus (1-in-3 docs; 1-in-9 get a planted
# double-user violation) identically in both engines; the operator
# under test is the parse: regexp_extract_all pulls (role, turn text)
# pairs, alternation and per-role token sums evaluate with row-local
# higher-order functions — everything stays in codegen, zero shuffles
# before the final per-doc projection.
# ---------------------------------------------------------------------------

_CHAT_RE = r"<\|(user|assistant)\|> ([^<]*)"


@register(
    "q167_chat_turn_audit",
    f"""
    WITH t AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS toks FROM documents
        WHERE doc_id % 3 = 0
    ),
    chat AS (
        SELECT doc_id,
               -- coalesce each slice: DuckDB yields NULL (not []) when
               -- the lower bound exceeds the list length
               '<|user|> ' || coalesce(array_to_string(toks[1:10], ' '), '')
               || CASE WHEN doc_id % 9 = 0 THEN ' <|user|> '
                       ELSE ' <|assistant|> ' END
               || coalesce(array_to_string(toks[11:20], ' '), '')
               || ' <|user|> '
               || coalesce(array_to_string(toks[21:30], ' '), '')
               || ' <|assistant|> '
               || coalesce(array_to_string(toks[31:], ' '), '')
                   AS chat
        FROM t
    ),
    parsed AS (
        SELECT doc_id,
               regexp_extract_all(chat, '{_CHAT_RE}', 1) AS roles,
               list_transform(regexp_extract_all(chat, '{_CHAT_RE}', 2),
                   x -> CASE WHEN trim(x) = '' THEN 0
                             ELSE len(regexp_split_to_array(trim(x), ' +'))
                        END) AS counts
        FROM chat
    )
    SELECT doc_id,
           CAST(len(roles) AS INT) AS n_turns,
           (roles[1] = 'user' AND len(list_filter(range(1, len(roles)),
               i -> roles[i] = roles[i + 1])) = 0) AS alternation_ok,
           CAST(list_sum(counts) AS BIGINT) AS total_tokens,
           CAST(list_sum(list_transform(list_zip(roles, counts),
               p -> CASE WHEN p[1] = 'assistant' THEN p[2] ELSE 0 END))
               AS BIGINT) AS assistant_tokens,
           round(CASE WHEN list_sum(counts) > 0
                 THEN CAST(list_sum(list_transform(list_zip(roles, counts),
                      p -> CASE WHEN p[1] = 'assistant' THEN p[2] ELSE 0 END))
                      AS DOUBLE) / list_sum(counts)
                 ELSE 0.0 END, 6) AS trainable_frac
    FROM parsed
    """,
)
def q167_chat_turn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", TX.tokens(F.col("text")).alias("toks")
    )
    sep2 = F.when(F.col("doc_id") % 9 == 0, F.lit(" <|user|> ")).otherwise(
        F.lit(" <|assistant|> ")
    )
    chat = t.select(
        "doc_id",
        F.concat(
            F.lit("<|user|> "),
            F.array_join(F.slice("toks", 1, 10), " "),
            sep2,
            F.array_join(F.slice("toks", 11, 10), " "),
            F.lit(" <|user|> "),
            F.array_join(F.slice("toks", 21, 10), " "),
            F.lit(" <|assistant|> "),
            F.array_join(F.expr("slice(toks, 31, 1000000)"), " "),
        ).alias("chat"),
    )
    tokn = lambda x: (
        F.when(F.trim(x) == "", 0).otherwise(F.size(F.split(F.trim(x), " +")))
    )
    parsed = chat.select(
        "doc_id",
        F.expr(f"regexp_extract_all(chat, r'{_CHAT_RE}', 1)").alias("roles"),
        F.transform(
            F.expr(f"regexp_extract_all(chat, r'{_CHAT_RE}', 2)"), tokn
        ).alias("counts"),
    )
    n = F.size("roles")
    bad_adj = F.size(
        F.filter(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.element_at("roles", i) == F.element_at("roles", i + 1),
        )
    )
    total = F.aggregate("counts", F.lit(0), lambda a, c: a + c)
    assistant = F.aggregate(
        F.zip_with(
            "roles", "counts", lambda r, c: F.when(r == "assistant", c).otherwise(0)
        ),
        F.lit(0),
        lambda a, c: a + c,
    )
    return parsed.select(
        "doc_id",
        n.cast("int").alias("n_turns"),
        (
            (F.element_at("roles", 1) == "user")
            & (F.when(n >= 2, bad_adj == 0).otherwise(F.lit(True)))
        ).alias("alternation_ok"),
        total.cast("bigint").alias("total_tokens"),
        assistant.cast("bigint").alias("assistant_tokens"),
        F.round(
            F.when(total > 0, assistant.cast("double") / total).otherwise(0.0), 6
        ).alias("trainable_frac"),
    )


# ---------------------------------------------------------------------------
# q170 — vocabulary growth (Heaps-law) curve: distinct token types vs
# cumulative tokens over 5 fixed corpus prefixes — the audit that tells
# you whether a corpus keeps contributing new vocabulary or has gone
# stale (types ~ tokens^beta; a collapsing beta means more data is
# adding repetition, not coverage). Prefix id is row-local against one
# broadcast max-doc scalar (always 5 buckets at ANY corpus size); each
# token's FIRST prefix is one vocab-cardinality keyed agg; the curve
# assembles with a 5x5 triangular self-join of the bucket table —
# bounded at every scale, never a global window.
# ---------------------------------------------------------------------------

_HEAPS_BUCKETS = 5


@register(
    "q170_vocab_growth",
    f"""
    WITH mx AS (SELECT max(doc_id) + 1 AS md FROM documents),
    t AS (
        SELECT CAST(floor(doc_id * {_HEAPS_BUCKETS}.0 / md) AS INT) AS bucket,
               unnest({TX.tokens_sql('text')}) AS tok
        FROM documents CROSS JOIN mx
        WHERE trim(text) <> ''
    ),
    per_tok AS (SELECT tok, min(bucket) AS first_b FROM t GROUP BY tok),
    new_types AS (
        SELECT first_b AS bucket, CAST(count(*) AS BIGINT) AS new_types
        FROM per_tok GROUP BY first_b
    ),
    tok_counts AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
        FROM t GROUP BY bucket
    )
    -- drive from tok_counts so buckets contributing ZERO new types
    -- (a saturated vocabulary) still appear on the curve
    SELECT a.bucket,
           CAST(coalesce(max(CASE WHEN c.bucket = a.bucket
                             THEN nb.new_types END), 0) AS BIGINT) AS new_types,
           CAST(sum(coalesce(nb.new_types, 0)) AS BIGINT) AS cum_types,
           CAST(sum(c.n_tokens) AS BIGINT) AS cum_tokens,
           round(ln(sum(coalesce(nb.new_types, 0)))
                 / ln(sum(c.n_tokens)), 6) AS heaps_beta
    FROM tok_counts a
    JOIN tok_counts c ON c.bucket <= a.bucket
    LEFT JOIN new_types nb ON nb.bucket = c.bucket
    GROUP BY a.bucket
    """,
)
def q170_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("md"))
    t = (
        docs.filter(F.trim("text") != "")
        .crossJoin(F.broadcast(mx))
        .select(
            F.floor(F.col("doc_id") * _HEAPS_BUCKETS / F.col("md"))
            .cast("int")
            .alias("bucket"),
            F.explode(TX.tokens(F.col("text"))).alias("tok"),
        )
    )
    # the bucketed token stream feeds BOTH growth aggs — each would
    # replay the corpus tokenize+explode
    t = barrier(t)
    new_types = (
        t.groupBy("tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("new_types"))
    )
    # bucket-cardinality, referenced by the driver side AND the
    # cumulative side of the growth-curve join
    tok_counts = t.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    ).transform(barrier)
    a = tok_counts.select("bucket")
    bc = tok_counts.join(new_types, "bucket", "left").select(
        F.col("bucket").alias("b2"),
        F.coalesce("new_types", F.lit(0)).alias("nt"),
        "n_tokens",
    )
    return (
        a.join(F.broadcast(bc), F.col("b2") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("b2") == F.col("bucket"), F.col("nt"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("new_types"),
            F.sum("nt").cast("bigint").alias("cum_types"),
            F.sum("n_tokens").cast("bigint").alias("cum_tokens"),
            F.round(F.log(F.sum("nt")) / F.log(F.sum("n_tokens")), 6).alias(
                "heaps_beta"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q176/q177 — corpus-trained BPE: the merge table (q176) and the
# fertility audit re-asked of the TRAINED tokenizer (q177; q158 asks
# it of the whitespace tokenizer). Training never touches corpus token
# rows: the corpus collapses once to its word-frequency dictionary
# (one corpus-scale agg + deterministic top-cap), then K rounds of
# pair-count -> argmax -> simultaneous merge run over vocab-scale
# symbol rows — the q112 driver-loop pattern with a 1-row TakeOrdered
# collect per round. The oracle unrolls the same K rounds (in-SQL
# argmax, same tie-break, same gaps-and-islands non-overlap rule).
# (operators/bpe.bpe_merge_table / bpe_fertility; monotone
# bytes-per-token pinned in tests/test_bpe.py)
# ---------------------------------------------------------------------------

from whale_sightings_spark.operators import bpe as BPE  # noqa: E402


def _bpe_artifact_dir(
    spark: SparkSession, sf_dir: str, where: str = "", tag: str = "full"
) -> str:
    """The trained-BPE store over ``sf_dir``'s documents, optionally
    filtered by ``where``; the training-corpus ``tag`` names its own
    family (q188's history split trains its own artifact). The build
    writes ``merges`` last, so its ``_SUCCESS`` marks a finished
    build."""

    def write(staging: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        BPE.build_bpe_artifact(docs.filter(where) if where else docs, staging)

    return artifact_dir(
        sf_dir,
        "documents.parquet",
        f"bpe_{tag}",
        BPE.BPE_FORMAT_VERSION,
        lambda d: BPE.bpe_artifact_paths(d)[1],
        write,
    )


@register("q176_bpe_merge_table", BPE.bpe_merge_table_sql())
def q176_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # build sign-off: build-if-absent, then the result is the merge
    # table READ BACK from the store (the q172 shape)
    return BPE.bpe_stored_merge_table(spark, _bpe_artifact_dir(spark, sf_dir))


@register("q177_bpe_fertility", BPE.bpe_fertility_sql())
def q177_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return BPE.bpe_fertility_from_store(
        load_table(spark, sf_dir, "documents"),
        spark,
        _bpe_artifact_dir(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# q178/q179 — the trained tokenizer's other two shipped artifacts: the
# symbol VOCABULARY after K merges (q178: per surviving symbol, how
# many dictionary words use it and its corpus-weighted occurrence
# count — the table an embedding matrix is sized from) and a
# deterministic SEGMENTATION sample (q179: the top-20 words by corpus
# frequency with their trained tokenization — the artifact reviewers
# eyeball). Both are vocab-scale aggs over the final symbol frame;
# the oracles extend the same unrolled round chain.
# ---------------------------------------------------------------------------


@register(
    "q178_bpe_vocab",
    f"""
    WITH {BPE.bpe_ctes()}
    SELECT sym,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words,
           CAST(sum(wcount) AS BIGINT) AS n_occurrences
    FROM s{BPE.BPE_ROUNDS}
    GROUP BY sym
    """,
)
def q178_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    syms = BPE.bpe_stored_symbols(spark, _bpe_artifact_dir(spark, sf_dir))
    return syms.groupBy("sym").agg(
        F.countDistinct("word").alias("n_words"),
        F.sum("wcount").cast("bigint").alias("n_occurrences"),
    )


@register(
    "q179_bpe_segmentations",
    f"""
    WITH {BPE.bpe_ctes()}
    SELECT word, wcount, string_agg(sym, ' ' ORDER BY pos) AS segmentation
    FROM s{BPE.BPE_ROUNDS}
    GROUP BY word, wcount
    ORDER BY wcount DESC, word
    LIMIT 20
    """,
)
def q179_bpe_segmentations(spark: SparkSession, sf_dir: str) -> DataFrame:
    syms = BPE.bpe_stored_symbols(spark, _bpe_artifact_dir(spark, sf_dir))
    return (
        syms.groupBy("word", "wcount")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                    lambda x: x.sym,
                ),
                " ",
            ).alias("segmentation")
        )
        .orderBy(F.desc("wcount"), F.asc("word"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q180 — BPE-budget sequence packing: q64's deterministic context-bin
# packing re-costed with TRAINED-BPE token counts — the composition a
# real pipeline runs (the packer budgets in the tokens the MODEL will
# see, not whitespace words). Per-doc BPE counts come from the corpus
# word stream joined to the broadcast vocab-scale token table (char
# fallback past the training cap, the q177 contract); the fill is
# q64's one window shuffle over (bucket, doc_id). Proves the trained
# tokenizer artifact is consumable across operators, like q175 does
# for the IVF-PQ index.
# ---------------------------------------------------------------------------

from whale_sightings_spark.functions.hashing import hash60, hash60_sql  # noqa: E402

_BPE_PACK_BIN = 4096
_BPE_PACK_BUCKETS = 16
_BPE_PACK_BUCKET_SQL = (
    f"({hash60_sql('CAST(doc_id AS VARCHAR)')}) % {_BPE_PACK_BUCKETS}"
)


@register(
    "q180_bpe_packing",
    f"""
    WITH {BPE.bpe_ctes()},
    wt AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens
           FROM s{BPE.BPE_ROUNDS} GROUP BY word),
    dw AS (
        SELECT doc_id, word FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), ' +')) AS word
            FROM documents
        ) WHERE word <> ''
    ),
    perdoc AS (
        SELECT d.doc_id,
               CAST(sum(coalesce(t.n_tokens, len(d.word))) AS BIGINT) AS n_tokens
        FROM dw d LEFT JOIN wt t ON t.word = d.word
        GROUP BY d.doc_id
    ),
    t AS (
        SELECT doc.doc_id,
               coalesce(p.n_tokens, 0) AS n_tokens,
               CAST({_BPE_PACK_BUCKET_SQL.replace('doc_id', 'doc.doc_id')} AS BIGINT) AS bucket
        FROM documents doc LEFT JOIN perdoc p ON p.doc_id = doc.doc_id
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
           CAST(floor((cum - n_tokens) / {_BPE_PACK_BIN}.0) AS BIGINT) AS bin_id,
           CAST((cum - n_tokens) % {_BPE_PACK_BIN} AS BIGINT) AS offset_tokens
    FROM s
    """,
)
def q180_bpe_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wt = BPE.bpe_stored_word_tokens(spark, _bpe_artifact_dir(spark, sf_dir))
    dw = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("word"),
    ).filter(F.col("word") != "")
    perdoc = (
        dw.join(F.broadcast(wt), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce("n_tokens", F.length("word").cast("bigint")))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    t = (
        docs.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            (hash60(F.col("doc_id").cast("string")) % _BPE_PACK_BUCKETS).alias(
                "bucket"
            ),
        )
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
        F.floor(start / _BPE_PACK_BIN).alias("bin_id"),
        (start % _BPE_PACK_BIN).alias("offset_tokens"),
    )


# ---------------------------------------------------------------------------
# q184 — Bloom-filter prescreened contamination join: q119's eval
# 3-gram dictionary compiled into a fixed 3840-bit Bloom filter
# (64 x 60-bit words, 3 salted hash60 probes) that prescreens the
# training gram stream BEFORE the exact dictionary join — the manual
# form of the runtime row-group filter Spark's own bloom-join pushes
# at scale, with the false-positive economics made visible. The
# filter is a 64-row bit_or agg over the (small) eval set, broadcast
# to the probe side; candidates then verify against the exact
# dictionary, and the audit prices the prescreen per source:
# candidates vs exact hits vs false positives. Contract: the Bloom
# side can only OVER-approximate (exact hits are always candidates) —
# pytest-pinned, and the per-source fp counts are oracle-checked.
# At 100 TB the win is that the exact (shuffle) join sees only the
# candidate stream — the filter itself is 64 bigints.
# ---------------------------------------------------------------------------

_BLOOM_WORDS = 64
_BLOOM_WORD_BITS = 60
_BLOOM_BITS = _BLOOM_WORDS * _BLOOM_WORD_BITS
_BLOOM_K = 3


def _bloom_pos_sql(gram_expr: str, j: int) -> str:
    salted = "'bl" + str(j) + ":' || " + gram_expr
    return f"({hash60_sql(salted)}) % {_BLOOM_BITS}"


_BLOOM_GRAMS = f"""
    t AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, unnest({TX.shingles_from_tokens_sql('t', 3)}) AS gram
        FROM t
    ),
    e AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
    tr AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id >= 10)
"""

_BLOOM_BUILD = f"""
    pos AS (
        SELECT unnest([{", ".join(_bloom_pos_sql('gram', j) for j in range(_BLOOM_K))}]) AS p
        FROM e
    ),
    filt AS (
        SELECT p // {_BLOOM_WORD_BITS} AS word_idx,
               bit_or((CAST(1 AS BIGINT) << CAST(p % {_BLOOM_WORD_BITS} AS INTEGER))) AS word
        FROM pos GROUP BY 1
    )
"""


@register(
    "q184_bloom_prescreen",
    f"""
    WITH {_BLOOM_GRAMS},
    {_BLOOM_BUILD},
    probe AS (
        SELECT doc_id, gram,
               unnest([{", ".join(_bloom_pos_sql('gram', j) for j in range(_BLOOM_K))}]) AS p
        FROM tr
    ),
    hits AS (
        SELECT probe.doc_id, probe.gram,
               min(CASE WHEN f.word IS NULL THEN 0
                        ELSE CAST((f.word >> CAST(probe.p % {_BLOOM_WORD_BITS} AS INTEGER)) & 1 AS INTEGER)
                   END) AS all_set
        FROM probe LEFT JOIN filt f ON f.word_idx = probe.p // {_BLOOM_WORD_BITS}
        GROUP BY probe.doc_id, probe.gram
    ),
    verdicts AS (
        SELECT h.doc_id, h.gram, h.all_set = 1 AS bloom_cand,
               e.gram IS NOT NULL AS exact_hit
        FROM hits h LEFT JOIN e ON e.gram = h.gram
    ),
    src AS (SELECT doc_id, source FROM documents)
    SELECT s.source,
           CAST(count(*) AS BIGINT) AS n_grams_probed,
           CAST(count(*) FILTER (bloom_cand) AS BIGINT) AS n_bloom_candidates,
           CAST(count(*) FILTER (exact_hit) AS BIGINT) AS n_exact_hits,
           CAST(count(*) FILTER (bloom_cand AND NOT exact_hit) AS BIGINT)
               AS n_false_pos,
           round(CAST(count(*) FILTER (bloom_cand AND NOT exact_hit) AS DOUBLE)
                 / greatest(count(*) FILTER (bloom_cand), 1), 6) AS fp_rate
    FROM verdicts v JOIN src s USING (doc_id)
    GROUP BY s.source
    """,
)
def q184_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 8): same stored-postings projections
    # as q119 — the only documents scan left is the 2-column
    # (doc_id, source) rollup join at the end (column-pruned, no
    # tokenization anywhere in the plan).
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    docs = load_table(spark, sf_dir, "documents")
    g = SHI.stored_postings(
        spark, shingle_artifact_dir(spark, sf_dir)
    ).select("doc_id", F.col("shingle").alias("gram"))
    ev = g.filter(F.col("doc_id") < 5).select("gram").distinct()
    tr = g.filter(F.col("doc_id") >= 10)

    def positions(frame: DataFrame) -> DataFrame:
        return frame.select(
            *frame.columns,
            F.explode(
                F.array(
                    *[
                        hash60(F.concat(F.lit(f"bl{j}:"), F.col("gram")))
                        % _BLOOM_BITS
                        for j in range(_BLOOM_K)
                    ]
                )
            ).alias("p"),
        )

    filt = (
        positions(ev)
        .select(
            (F.col("p") / _BLOOM_WORD_BITS).cast("long").alias("word_idx"),
            (F.col("p") % _BLOOM_WORD_BITS).cast("int").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("word"))
    )
    probe = positions(tr)
    hits = (
        probe.join(
            F.broadcast(filt),
            (F.col("p") / _BLOOM_WORD_BITS).cast("long") == F.col("word_idx"),
            "left",
        )
        .select(
            "doc_id",
            "gram",
            F.when(F.col("word").isNull(), F.lit(0))
            .otherwise(
                F.expr(
                    f"CAST((word >> CAST(p % {_BLOOM_WORD_BITS} AS INT)) & 1 AS INT)"
                )
            )
            .alias("set_"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.min("set_").alias("all_set"))
    )
    verdicts = hits.join(
        F.broadcast(ev.withColumn("exact_hit", F.lit(True))), "gram", "left"
    ).select(
        "doc_id",
        (F.col("all_set") == 1).alias("bloom_cand"),
        F.coalesce("exact_hit", F.lit(False)).alias("exact_hit"),
    )
    cand = F.sum(F.col("bloom_cand").cast("long"))
    fp = F.sum((F.col("bloom_cand") & ~F.col("exact_hit")).cast("long"))
    return (
        verdicts.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_grams_probed"),
            cand.alias("n_bloom_candidates"),
            F.sum(F.col("exact_hit").cast("long")).alias("n_exact_hits"),
            fp.alias("n_false_pos"),
            F.round(fp / F.greatest(cand, F.lit(1)), 6).alias("fp_rate"),
        )
    )


# ---------------------------------------------------------------------------
# q188 — tokenizer retrain-drift audit: the trained-BPE merge table
# fit on the HISTORY prefix (80% of docs) vs the one fit on the full
# corpus, compared round by round — the staleness check a production
# pipeline runs before deciding whether yesterday's tokenizer still
# fits today's corpus (q170's Heaps curve asks it of the vocabulary;
# this asks it of the actual shipped artifact). Per round: both
# chains' merged symbol, agreement flag, both pair counts; plus the
# Jaccard of the two merge-PAIR sets as the one-number drift score.
# Scale shape: two independent BPE trainings (each 1 corpus-scale
# word agg + K vocab-scale rounds, q176's contract) and a
# merge-table-sized (K-row) comparison — the drift math never touches
# the corpus again.
# ---------------------------------------------------------------------------

_DRIFT_HOLD = "doc_id % 5 <> 4"


def _q188_oracle() -> str:
    k = BPE.BPE_ROUNDS
    hm = "\n        UNION ALL\n        ".join(
        f"SELECT {r} AS round, a, b, cnt FROM h_m{r}" for r in range(1, k + 1)
    )
    gm = "\n        UNION ALL\n        ".join(
        f"SELECT {r} AS round, a, b, cnt FROM g_m{r}" for r in range(1, k + 1)
    )
    return f"""
    WITH {BPE.bpe_ctes(prefix="h_", where=_DRIFT_HOLD)},
    {BPE.bpe_ctes(prefix="g_")},
    hm AS ({hm}),
    gm AS ({gm}),
    u AS (
        SELECT coalesce(h.a, g.a) AS a, coalesce(h.b, g.b) AS b,
               h.a IS NOT NULL AND g.a IS NOT NULL AS both_
        FROM (SELECT DISTINCT a, b FROM hm) h
        FULL JOIN (SELECT DISTINCT a, b FROM gm) g
          ON g.a = h.a AND g.b = h.b
    ),
    j AS (
        SELECT round(CAST(count(*) FILTER (both_) AS DOUBLE) / count(*), 6)
               AS merge_jaccard
        FROM u
    )
    SELECT hm.round,
           hm.a || hm.b AS hist_merged,
           gm.a || gm.b AS full_merged,
           hm.a = gm.a AND hm.b = gm.b AS agree,
           hm.cnt AS hist_count,
           gm.cnt AS full_count,
           j.merge_jaccard
    FROM hm JOIN gm USING (round) CROSS JOIN j
    """


@register("q188_bpe_drift", _q188_oracle())
def q188_bpe_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both merge tables come off the persisted-artifact cache (the
    # history split trains its own 'hist'-tagged artifact); the drift
    # math is a K-row join — no retraining per call
    hm = BPE.bpe_stored_merge_table(
        spark, _bpe_artifact_dir(spark, sf_dir, where=_DRIFT_HOLD, tag="hist")
    )
    gm = BPE.bpe_stored_merge_table(spark, _bpe_artifact_dir(spark, sf_dir))
    hp = hm.select("left_sym", "right_sym").distinct().withColumn(
        "in_h", F.lit(True)
    )
    gp = gm.select("left_sym", "right_sym").distinct().withColumn(
        "in_g", F.lit(True)
    )
    j = (
        hp.join(gp, ["left_sym", "right_sym"], "full_outer")
        .agg(
            F.round(
                F.sum(
                    (
                        F.coalesce("in_h", F.lit(False))
                        & F.coalesce("in_g", F.lit(False))
                    ).cast("double")
                )
                / F.count("*"),
                6,
            ).alias("merge_jaccard")
        )
    )
    h = hm.select(
        "round",
        F.col("left_sym").alias("h_l"),
        F.col("right_sym").alias("h_r"),
        F.col("merged").alias("hist_merged"),
        F.col("pair_count").alias("hist_count"),
    )
    g = gm.select(
        "round",
        F.col("left_sym").alias("g_l"),
        F.col("right_sym").alias("g_r"),
        F.col("merged").alias("full_merged"),
        F.col("pair_count").alias("full_count"),
    )
    return (
        h.join(g, "round")
        .crossJoin(F.broadcast(j))
        .select(
            "round",
            "hist_merged",
            "full_merged",
            ((F.col("h_l") == F.col("g_l")) & (F.col("h_r") == F.col("g_r"))).alias(
                "agree"
            ),
            "hist_count",
            "full_count",
            "merge_jaccard",
        )
    )


# ---------------------------------------------------------------------------
# q190 — Dirichlet query-likelihood retrieval: the language-model
# ranking family (Zhai/Lafferty) next to q103's BM25 — score(d) =
# Σ_t log((tf + μ·P(t|C)) / (|d| + μ)). Decomposed so the plan stays
# bounded exactly like BM25's: a constant Σ_t log(μ·P(t|C)) (term-set-
# sized broadcast), a row-local -|Q|·log(|d|+μ) length penalty every
# doc pays, and a match bonus Σ log(1 + tf/(μ·P(t|C))) that only
# MATCHED (doc, term) rows contribute — served (round 9) from the LM
# store's bucket-pruned doc_uni probe + doc_len table, so the corpus
# text is never read at query time. Docs
# with zero matches still rank (short docs pay less length penalty) —
# the faithful QL semantics BM25 can't express. Top-k via TakeOrdered.
# ---------------------------------------------------------------------------

_QL_TERMS = ("join", "vector", "stream")
_QL_MU = 300.0
_QL_TOP = 15


@register(
    "q190_query_likelihood",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({TX.tokens_sql('text')}) AS tok FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
    tot AS (SELECT sum(len) AS t FROM dl),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks
        WHERE tok IN ({", ".join(f"'{t}'" for t in _QL_TERMS)})
        GROUP BY doc_id, tok
    ),
    cf AS (
        SELECT tok, sum(tf) AS cf FROM tf GROUP BY tok
    ),
    cst AS (
        SELECT sum(ln({_QL_MU} * cf / tot.t)) AS c FROM cf CROSS JOIN tot
    ),
    bonus AS (
        SELECT tf.doc_id,
               sum(ln(1 + tf.tf * tot.t / ({_QL_MU} * cf.cf))) AS b,
               CAST(count(*) AS BIGINT) AS n_matched
        FROM tf JOIN cf ON cf.tok = tf.tok CROSS JOIN tot
        GROUP BY tf.doc_id
    )
    SELECT dl.doc_id,
           CAST(dl.len AS BIGINT) AS len,
           coalesce(bonus.n_matched, 0) AS n_matched,
           round(cst.c - {len(_QL_TERMS)} * ln(dl.len + {_QL_MU})
                 + coalesce(bonus.b, 0), 6) AS ql_score
    FROM dl LEFT JOIN bonus ON bonus.doc_id = dl.doc_id CROSS JOIN cst
    ORDER BY ql_score DESC, dl.doc_id
    LIMIT {_QL_TOP}
    """,
)
def q190_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 9): |d| and the corpus-token total
    # come off the O(documents) doc_len table, tf off the bucket-pruned
    # doc_uni probe — the q103 serving shape applied to the QL scorer.
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    dl = (
        LM.stored_doc_len(spark, art)
        .filter(F.col("len").isNotNull())
        .select("doc_id", "len")
    )
    tot = dl.agg(F.sum("len").alias("t"))
    tf = (
        LM.stored_term_postings(spark, art, _QL_TERMS)
        .groupBy("doc_id", "tok")
        .agg(F.sum("n").alias("tf"))
    )
    cf = tf.groupBy("tok").agg(F.sum("tf").alias("cf"))
    cst = (
        cf.crossJoin(F.broadcast(tot))
        .agg(F.sum(F.log(_QL_MU * F.col("cf") / F.col("t"))).alias("c"))
    )
    bonus = (
        tf.join(F.broadcast(cf), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(1 + F.col("tf") * F.col("t") / (_QL_MU * F.col("cf")))
            ).alias("b"),
            F.count("*").alias("n_matched"),
        )
    )
    return (
        dl.join(bonus, "doc_id", "left")
        .crossJoin(F.broadcast(cst))
        .select(
            "doc_id",
            F.col("len").cast("long").alias("len"),
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
            F.round(
                F.col("c")
                - len(_QL_TERMS) * F.log(F.col("len") + F.lit(_QL_MU))
                + F.coalesce("b", F.lit(0.0)),
                6,
            ).alias("ql_score"),
        )
        .orderBy(F.desc("ql_score"), F.asc("doc_id"))
        .limit(_QL_TOP)
    )


# ---------------------------------------------------------------------------
# q191 — prefix-filtered EXACT set-similarity join (PPJoin shape):
# every pair with 3-gram Jaccard >= τ, with NO false negatives — the
# guarantee the df-capped LSH family (q14-q16) explicitly trades away.
# Each doc's shingles are ranked rarest-first (global df asc, shingle
# asc); by the prefix-filter theorem two sets with Jaccard >= τ must
# share an element inside their first n - ceil(τ·n) + 1 rarest
# shingles, so candidates come from an equi-join of the PREFIX
# inverted index only (rarity ordering keeps those posting lists
# short — that is the whole trick), then verify exactly. τ = 2/5 and
# the ceil/threshold tests run in INTEGER arithmetic in both engines
# (DuckDB decimal literals vs IEEE doubles would disagree on
# ceil(0.4·n) boundaries). Shapes: 1 df agg, 1 per-doc rank window,
# 1 prefix equi-join, q14's intersect-count verify.
#
# Round 10 adds PPJoin's POSITIONAL filter between the prefix join and
# the verify: for a candidate pair, all common shingles ordered below
# the LAST prefix⋈prefix match are themselves prefix matches (both
# docs rank by the same global (df, shingle) key, so common-token
# ranks are co-monotone and the max-rank match is the same match on
# both sides); everything above it contributes at most
# min(n_a - i_last, n_b - j_last). So
#   overlap(a,b) <= p + min(n_a - max(rk_a), n_b - max(rk_b))
# with p = number of prefix matches, and jaccard >= τ requires
# overlap*(NUM+DEN) >= NUM*(n_a+n_b) — integer arithmetic, zero false
# negatives, evaluated INSIDE the candidate aggregation (the pair
# groupBy that deduped candidates anyway), so the cut in verify-join
# input is free. The oracle needs no positional filter: output rows
# are identical by the refinement property (tests/test_text_hashing
# asserts it, and the oracle hash-gate would catch any divergence).
# ---------------------------------------------------------------------------

_PPJ_NUM = 2
_PPJ_DEN = 5


def _ppjoin_candidates(
    spark: SparkSession, sf_dir: str, positional: bool = True
):
    """(cand, sh, sz): the PPJoin candidate pair set off the stored
    shingle index — prefix equi-join, then (``positional=True``) the
    positional upper-bound cut inside the pair aggregation. Split out
    of q191 so tests can assert the positional filter is a pure
    refinement (same verified output, fewer verify-join rows)."""
    from pyspark.sql import Window as W

    # SERVED FROM THE STORE (round 8): the shingle set used to feed
    # five consumers through a barrier; now every consumer
    # re-scans the persisted posting parquet directly (cheaper than a
    # barrier — the materialization already happened at build time),
    # and the df / size tables come off their stored aggregates.
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    art = shingle_artifact_dir(spark, sf_dir)
    sh = SHI.stored_postings(spark, art).select("doc_id", "shingle")
    dfc = SHI.stored_df(spark, art).select("shingle", "df")
    sz = SHI.stored_doc_stats(spark, art).select(
        "doc_id", F.col("n_shingles").alias("n")
    )
    ranked = (
        sh.join(dfc, "shingle")
        .join(sz, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
            ),
        )
    )
    plen = (
        F.col("n")
        - F.expr(f"({_PPJ_NUM} * n + {_PPJ_DEN} - 1) div {_PPJ_DEN}")
        + 1
    )
    # pref self-joins with itself below — barrier so the df-join +
    # window chain behind it runs once, not twice
    pref = (
        ranked.filter(F.col("rk") <= plen)
        .select("doc_id", "shingle", "rk", "n")
        .transform(barrier)
    )
    a = pref.alias("a")
    b = pref.alias("b")
    # PPJoin LENGTH filter (r13, guide §3.3): jaccard >= NUM/DEN needs
    # overlap*(NUM+DEN) >= NUM*(na+nb) with overlap <= min(na, nb), so
    # min(na, nb)*DEN >= max(na, nb)*NUM is necessary. Evaluated inside
    # the prefix join on columns both sides already carry, it drops
    # size-incompatible candidate rows BEFORE the pair aggregation —
    # a pure refinement (pairs that qualify keep every matched row, so
    # p/ia/jb and the verified output are unchanged).
    grouped = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.n"), F.col("b.n")) * _PPJ_DEN
                >= F.greatest(F.col("a.n"), F.col("b.n")) * _PPJ_NUM
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(
            F.count("*").alias("p"),
            F.max("a.rk").alias("ia"),
            F.max("b.rk").alias("jb"),
        )
    )
    if positional:
        ubound = F.col("p") + F.least(
            F.col("na") - F.col("ia"), F.col("nb") - F.col("jb")
        )
        grouped = grouped.filter(
            ubound * (_PPJ_NUM + _PPJ_DEN)
            >= _PPJ_NUM * (F.col("na") + F.col("nb"))
        )
    # na/nb ride along (already grouping keys) so the verify stage
    # doesn't need to re-join the size table per side.
    return grouped.select("doc_a", "doc_b", "na", "nb"), sh, sz


@register(
    "q191_prefix_jaccard_join",
    f"""
    WITH t AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest({TX.shingles_from_tokens_sql('t', 3)}) AS shingle
            FROM t
        )
    ),
    dfc AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    ranked AS (
        SELECT sh.doc_id, sh.shingle, sz.n,
               row_number() OVER (
                   PARTITION BY sh.doc_id
                   ORDER BY dfc.df, sh.shingle
               ) AS rk
        FROM sh JOIN dfc USING (shingle) JOIN sz USING (doc_id)
    ),
    pref AS (
        SELECT doc_id, shingle, n FROM ranked
        WHERE rk <= n - (({_PPJ_NUM} * n + {_PPJ_DEN} - 1) // {_PPJ_DEN}) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE)
                 / (za.n + zb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sz za ON za.doc_id = i.doc_a
    JOIN sz zb ON zb.doc_id = i.doc_b
    WHERE i.n_common * {_PPJ_DEN} >= {_PPJ_NUM} * (za.n + zb.n - i.n_common)
    """,
)
def q191_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, sh, sz = _ppjoin_candidates(spark, sf_dir, positional=True)
    # Verify via per-doc shingle ARRAYS instead of re-exploding the
    # posting lists through a double join + re-aggregation: each
    # candidate pair fetches the two arrays and counts the overlap
    # with size(array_intersect()) — the postings are distinct per
    # (doc_id, shingle) by construction, so the intersect size IS the
    # exact n_common the exploded count(*) produced. na/nb already
    # ride on cand (grouping keys of the candidate aggregation), so
    # the two size-table joins are gone too.
    arrs = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shs"))
    joined = cand.join(
        arrs.select(F.col("doc_id").alias("doc_a"), F.col("shs").alias("sa")),
        "doc_a",
    ).join(
        arrs.select(F.col("doc_id").alias("doc_b"), F.col("shs").alias("sb")),
        "doc_b",
    )
    # The trivial per-pair aggregation (one row per group) is an
    # optimizer BARRIER: without it the jaccard filter is pushed into
    # the broadcast-join condition and array_intersect gets evaluated
    # three times per pair (twice in the condition, once in the
    # project) — measured 2x slower steady and 4x slower cold.
    nc = joined.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.max(F.size(F.array_intersect("sa", "sb"))).cast("long").alias("n_common")
    )
    return (
        nc.filter(
            F.col("n_common") * _PPJ_DEN
            >= _PPJ_NUM * (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q254 — retrieval-index statistics audit (round 9: the q243/q251
# maintenance convention applied to the LM store's retrieval surface):
# per-source document counts, token totals, and average document
# length off the stored doc_len table, cross-checked against the
# stored doc_uni postings rollup. ``n_len_mismatch`` counts documents
# whose postings total differs from the stored length — by
# construction exactly the empty/whitespace documents whose single ''
# split token the n-gram tables drop — so a nonzero count beyond that
# class means the two tables were written from different corpus
# states and the store needs a rebuild. This is the index-stats
# endpoint every search system ships, run as a store-integrity gate:
# one O(documents) read + one postings-table rollup, corpus text
# never touched on the Spark side.
# ---------------------------------------------------------------------------


@register(
    "q254_index_stats",
    f"""
    WITH dl AS (
        SELECT doc_id, source,
               CAST(len({TX.tokens_sql('text')}) AS BIGINT) AS len
        FROM documents
    ),
    us AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS s FROM (
            SELECT doc_id, unnest({TX.tokens_sql('text')}) AS tok
            FROM documents
        ) WHERE tok <> '' GROUP BY doc_id
    )
    SELECT dl.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(dl.len) AS BIGINT) AS n_tokens,
           round(avg(dl.len), 6) AS avgdl,
           CAST(sum(CASE WHEN coalesce(us.s, 0) <> coalesce(dl.len, 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch
    FROM dl LEFT JOIN us ON us.doc_id = dl.doc_id
    GROUP BY dl.source
    """,
)
def q254_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    dl = LM.stored_doc_len(spark, art).select("doc_id", "source", "len")
    us = (
        LM.stored_doc_uni(spark, art)
        .groupBy("doc_id")
        .agg(F.sum("n").cast("bigint").alias("s"))
    )
    j = dl.join(us, "doc_id", "left")
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("len").cast("bigint").alias("n_tokens"),
        F.round(F.avg("len"), 6).alias("avgdl"),
        F.sum(
            F.when(
                F.coalesce(F.col("s"), F.lit(0))
                != F.coalesce(F.col("len"), F.lit(0)),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_len_mismatch"),
    )


# ---------------------------------------------------------------------------
# q197 — HTML boilerplate strip + link-density screen: the web-corpus
# cleanup stage (RefinedWeb/Dolma lineage) — strip markup, measure
# how much of the raw payload was tag/nav overhead, and flag docs
# whose link density crosses the spam threshold. The testdata has no
# markup column, so the page is SYNTHESIZED deterministically from
# (doc_id, text) — nav chrome on every page, an extra ad link on
# every third doc — the q69 provenance-audit convention: the operator
# chain (tag strip -> whitespace collapse -> density math) is the
# real artifact, exercised end to end. All row-local regexp work in
# one codegen stage + a source-sized agg.
# ---------------------------------------------------------------------------

_LINKDENS_T = 0.02


@register(
    "q197_boilerplate_strip",
    f"""
    WITH page AS (
        SELECT doc_id, source,
               '<html><head><title>doc ' || doc_id
               || '</title></head><body><nav>home | about | contact</nav><p>'
               || text || '</p><a href="https://ex.com/' || doc_id
               || '">more</a>'
               || CASE WHEN doc_id % 3 = 0
                       THEN '<a href="https://ads.example">ad</a>'
                       ELSE '' END
               || '</body></html>' AS html
        FROM documents
    ),
    stripped AS (
        SELECT doc_id, source, length(html) AS raw_chars,
               len(regexp_extract_all(html, '<a ')) AS n_links,
               trim(regexp_replace(regexp_replace(html, '<[^>]+>', ' ', 'g'),
                                   ' +', ' ', 'g')) AS clean
        FROM page
    ),
    m AS (
        SELECT doc_id, source, raw_chars, n_links,
               length(clean) AS clean_chars,
               len(regexp_extract_all(clean, '[^ ]+')) AS n_words
        FROM stripped
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(1.0 - CAST(clean_chars AS DOUBLE) / raw_chars), 6)
               AS avg_tag_overhead,
           round(avg(CAST(n_links AS DOUBLE) / n_words), 6)
               AS avg_link_density,
           CAST(count(*) FILTER (CAST(n_links AS DOUBLE) / n_words
                                 > {_LINKDENS_T}) AS BIGINT) AS n_flagged
    FROM m
    GROUP BY source
    """,
)
def q197_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id"),
        F.lit('</title></head><body><nav>home | about | contact</nav><p>'),
        F.col("text"),
        F.lit('</p><a href="https://ex.com/'),
        F.col("doc_id"),
        F.lit('">more</a>'),
        F.when(F.col("doc_id") % 3 == 0, '<a href="https://ads.example">ad</a>')
        .otherwise(""),
        F.lit("</body></html>"),
    )
    page = docs.select("doc_id", "source", html.alias("html"))
    stripped = page.select(
        "doc_id",
        "source",
        F.length("html").alias("raw_chars"),
        F.size(F.regexp_extract_all("html", F.lit("<a "), 0)).alias("n_links"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace("html", "<[^>]+>", " "), " +", " "
            )
        ).alias("clean"),
    )
    m = stripped.select(
        "source",
        "raw_chars",
        "n_links",
        F.length("clean").alias("clean_chars"),
        F.size(F.regexp_extract_all("clean", F.lit("[^ ]+"), 0)).alias("n_words"),
    )
    dens = F.col("n_links").cast("double") / F.col("n_words")
    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.avg(1.0 - F.col("clean_chars").cast("double") / F.col("raw_chars")), 6
        ).alias("avg_tag_overhead"),
        F.round(F.avg(dens), 6).alias("avg_link_density"),
        F.sum((dens > _LINKDENS_T).cast("long")).alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# q198 — tokenizer round-trip audit (completes the BPE story): the
# invariant that makes a trained tokenizer SHIPPABLE is
# decode(encode(word)) == word — re-joining each dictionary word's BPE
# symbols in position order must reproduce the word exactly, for every
# word, with zero exceptions. Per source: corpus words, in-vocab hit
# count, round-trip mismatches (MUST be 0 — merges only ever
# concatenate adjacent symbols, so the audit proves the stored symbol
# frame is uncorrupted), and the char-coverage share the trained
# dictionary actually buys (chars of in-vocab words / all chars) — the
# number that says how much of the corpus encodes via trained merges
# vs the char fallback. Serves from the persisted artifact (one
# vocab-scale regroup + the corpus word-stream join q177 already
# pays); the oracle re-derives the same frame from the unrolled
# training chain.
# ---------------------------------------------------------------------------


@register(
    "q198_bpe_roundtrip_audit",
    f"""
    WITH {BPE.bpe_ctes()},
    rj AS (
        SELECT word, string_agg(sym, '' ORDER BY pos) AS rejoined
        FROM s{BPE.BPE_ROUNDS} GROUP BY word
    ),
    dw AS (
        SELECT source, word FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(lower(text)), ' +')) AS word
            FROM documents
        ) WHERE word <> ''
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(count(r.word) AS BIGINT) AS n_in_vocab,
           CAST(coalesce(sum(CASE WHEN r.word IS NOT NULL
                                   AND r.rejoined <> d.word THEN 1 END), 0)
                AS BIGINT) AS n_roundtrip_mismatch,
           round(CAST(sum(CASE WHEN r.word IS NOT NULL THEN len(d.word)
                          ELSE 0 END) AS DOUBLE)
                 / sum(len(d.word)), 6) AS char_coverage
    FROM dw d LEFT JOIN rj r ON r.word = d.word
    GROUP BY source
    """,
)
def q198_bpe_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    syms = BPE.bpe_stored_symbols(spark, _bpe_artifact_dir(spark, sf_dir))
    rj = syms.groupBy("word").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda x: x.sym,
            ),
            "",
        ).alias("rejoined")
    )
    dw = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    j = dw.join(
        F.broadcast(rj.withColumn("in_vocab", F.lit(True))), "word", "left"
    )
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum(F.coalesce("in_vocab", F.lit(False)).cast("long")).alias(
            "n_in_vocab"
        ),
        F.sum(
            (
                F.coalesce("in_vocab", F.lit(False))
                & (F.col("rejoined") != F.col("word"))
            ).cast("long")
        ).alias("n_roundtrip_mismatch"),
        F.round(
            F.sum(
                F.when(
                    F.coalesce("in_vocab", F.lit(False)), F.length("word")
                ).otherwise(F.lit(0)).cast("double")
            )
            / F.sum(F.length("word")),
            6,
        ).alias("char_coverage"),
    )


# ---------------------------------------------------------------------------
# q200 — cross-document exact substring-overlap spans: the
# memorization-span audit behind exact-substring dedup (Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better" —
# the 50-token rule, scaled to this corpus's k=4). For every candidate
# doc pair sharing >= MIN k-token shingles, report how many shingles
# they share and the LONGEST CONSECUTIVE run of shared shingle
# positions in doc_a (gaps-and-islands over matched positions; a run
# of L shingles = an exact shared span of L + k - 1 tokens) — the span
# length is what decides trim-vs-drop in a real pipeline. Scale shape:
# q14's df-capped inverted-index contract (candidates only ever come
# from 2..DF_CAP posting lists, never all-pairs); the span pass joins
# doc_a's position stream to doc_b's bounded shingle set per candidate
# pair; one window over (pair, pos).
# ---------------------------------------------------------------------------

_SPAN_K = 4
_SPAN_DF_CAP = 20
_SPAN_MIN_SHARED = 2


@register(
    "q200_overlap_spans",
    f"""
    WITH toks AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
    ),
    spos AS (
        SELECT doc_id, CAST(d.i AS BIGINT) AS pos,
               {TX.shingles_from_tokens_sql('t', _SPAN_K)}[CAST(d.i AS INT)] AS sh
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(t) - {_SPAN_K - 1} + 1)) AS i) d
        WHERE len(t) >= {_SPAN_K}
    ),
    sdist AS (SELECT DISTINCT doc_id, sh FROM spos),
    keep AS (
        SELECT sh FROM sdist GROUP BY sh
        HAVING count(*) BETWEEN 2 AND {_SPAN_DF_CAP}
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM sdist a
        JOIN keep k ON k.sh = a.sh
        JOIN sdist b ON b.sh = a.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {_SPAN_MIN_SHARED}
    ),
    amatch AS (
        SELECT c.doc_a, c.doc_b, p.pos
        FROM cand c
        JOIN spos p ON p.doc_id = c.doc_a
        JOIN keep k ON k.sh = p.sh
        JOIN sdist b ON b.doc_id = c.doc_b AND b.sh = p.sh
    ),
    runs AS (
        SELECT doc_a, doc_b,
               CAST(count(*) AS BIGINT) AS run_len
        FROM (
            SELECT doc_a, doc_b, pos,
                   pos - row_number() OVER (
                       PARTITION BY doc_a, doc_b ORDER BY pos) AS grp
            FROM amatch
        )
        GROUP BY doc_a, doc_b, grp
    )
    SELECT c.doc_a, c.doc_b, c.n_shared,
           CAST(max(r.run_len) + {_SPAN_K - 1} AS BIGINT) AS longest_span_tokens
    FROM cand c JOIN runs r ON r.doc_a = c.doc_a AND r.doc_b = c.doc_b
    GROUP BY c.doc_a, c.doc_b, c.n_shared
    """,
)
def q200_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.text import shingles_from_tokens

    docs = load_table(spark, sf_dir, "documents")
    spos = (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= _SPAN_K)
        .select(
            "doc_id",
            F.posexplode(shingles_from_tokens(F.col("t"), _SPAN_K)).alias(
                "p0", "sh"
            ),
        )
        .select("doc_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "sh")
    )
    # r12 (guide §2.4): the sdist/keep/cand/amatch join chain re-derived
    # the corpus span table FIVE times (sdist three times, spos twice —
    # five tokenize+shingle passes) and shuffled it for every join. One
    # clustering by sh now builds the df-capped posting index once —
    # repartition(sh), then the (sh, doc_id) position lists, the
    # distinct-doc window and the per-sh doc list all reuse that
    # partitioning — and every downstream row (shared-shingle pairs
    # with doc_a's positions riding along) explodes out of the bounded
    # (nd <= cap) lists. All outputs are integers; the pair/position
    # multisets are identical by construction (one row per kept shingle
    # shared by an ordered doc pair; doc_a's positions attached), so
    # runs and n_shared match row-for-row. Pairs sharing only one
    # shingle (below MIN_SHARED) now also reach the runs window; the
    # final inner join drops them exactly as the old cand-first chain
    # did.
    sd = (
        spos.repartition("sh")
        .groupBy("sh", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("poss"))
        .withColumn("nd", F.count("*").over(W.partitionBy("sh")))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= _SPAN_DF_CAP))
    )
    plist = sd.groupBy("sh").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "poss"))).alias(
            "items"
        )
    )
    pair_sh = (
        plist.select("items", F.posexplode("items").alias("i", "a"))
        .select(
            "a",
            F.explode(
                F.slice("items", F.col("i") + 2, F.size("items"))
            ).alias("b"),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.poss").alias("poss_a"),
        )
    )
    cand = (
        pair_sh.groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _SPAN_MIN_SHARED)
    )
    amatch = pair_sh.select(
        "doc_a", "doc_b", F.explode("poss_a").alias("pos")
    )
    w = W.partitionBy("doc_a", "doc_b").orderBy("pos")
    runs = (
        amatch.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "grp")
        .agg(F.count("*").alias("run_len"))
        .groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_len") + _SPAN_K - 1).cast("bigint").alias(
                "longest_span_tokens"
            )
        )
    )
    return cand.join(runs, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "n_shared", "longest_span_tokens"
    )


# ---------------------------------------------------------------------------
# q203 — tokenizer segmentation drift, in TOKEN terms (completes
# q188): q188 compares the two MERGE TABLES; this encodes the full
# corpus dictionary with the shipped HISTORY tokenizer (the real
# serve path: K stored merges applied, zero training) and with the
# full-corpus retrain, then prices the difference where it matters —
# how many word occurrences re-segment, and both fertilities. The
# Spark side is the stored-artifact pattern end to end: both merge
# tables come off the cache, the encode is `bpe_apply_merges` (K
# bounded passes over the vocab-scale char frame, a 8-row collect for
# the merge list). The oracle encodes the same dictionary with
# `bpe_apply_ctes` against the h_ chain's merges — training and
# serving share one CTE spec (`_merge_round_sql`).
# ---------------------------------------------------------------------------


def _q203_oracle() -> str:
    k = BPE.BPE_ROUNDS
    return f"""
    WITH {BPE.bpe_ctes(prefix="h_", where=_DRIFT_HOLD)},
    {BPE.bpe_ctes(prefix="g_")},
    {BPE.bpe_apply_ctes("g_wd", "h_", prefix="a_")},
    segf AS (
        SELECT word, string_agg(sym, ' ' ORDER BY pos) AS seg,
               CAST(count(*) AS BIGINT) AS nt
        FROM g_s{k} GROUP BY word
    ),
    segh AS (
        SELECT word, string_agg(sym, ' ' ORDER BY pos) AS seg,
               CAST(count(*) AS BIGINT) AS nt
        FROM a_s{k} GROUP BY word
    ),
    dw AS (
        SELECT source, word FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(lower(text)), ' +')) AS word
            FROM documents
        ) WHERE word <> ''
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(coalesce(sum(CASE WHEN h.seg <> f.seg THEN 1 END), 0)
                AS BIGINT) AS n_resegmented,
           round(CAST(coalesce(sum(CASE WHEN h.seg <> f.seg THEN 1 END), 0)
                      AS DOUBLE) / count(*), 6) AS reseg_share,
           round(CAST(sum(h.nt) AS DOUBLE) / count(*), 6) AS hist_fertility,
           round(CAST(sum(f.nt) AS DOUBLE) / count(*), 6) AS full_fertility
    FROM dw d
    JOIN segf f ON f.word = d.word
    JOIN segh h ON h.word = d.word
    GROUP BY d.source
    """


@register("q203_bpe_segmentation_drift", _q203_oracle())
def q203_bpe_segmentation_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    full_dir = _bpe_artifact_dir(spark, sf_dir)
    hist_dir = _bpe_artifact_dir(spark, sf_dir, where=_DRIFT_HOLD, tag="hist")
    full_syms = BPE.bpe_stored_symbols(spark, full_dir)

    def seg_nt(syms: DataFrame) -> DataFrame:
        return syms.groupBy("word").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                    lambda x: x.sym,
                ),
                " ",
            ).alias("seg"),
            F.count("*").cast("bigint").alias("nt"),
        )

    segf = seg_nt(full_syms)
    wd_full = full_syms.select("word", "wcount").distinct()
    # collect unsorted and order in Python: orderBy before a collect
    # runs a range-partition SAMPLING job first — two jobs to sort a
    # K-row table the driver re-sorts for free (r13, VERDICT #6)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in sorted(
            BPE.bpe_stored_merge_table(spark, hist_dir).collect(),
            key=lambda r: r["round"],
        )
    ]
    segh = seg_nt(BPE.bpe_apply_merges(wd_full, merges))
    per_word = (
        segf.select("word", F.col("seg").alias("seg_f"), F.col("nt").alias("nt_f"))
        .join(
            segh.select(
                "word", F.col("seg").alias("seg_h"), F.col("nt").alias("nt_h")
            ),
            "word",
        )
    )
    dw = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    return (
        dw.join(F.broadcast(per_word), "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum((F.col("seg_h") != F.col("seg_f")).cast("long")).alias(
                "n_resegmented"
            ),
            F.round(
                F.sum((F.col("seg_h") != F.col("seg_f")).cast("double"))
                / F.count("*"),
                6,
            ).alias("reseg_share"),
            F.round(F.sum("nt_h") / F.count("*"), 6).alias("hist_fertility"),
            F.round(F.sum("nt_f") / F.count("*"), 6).alias("full_fertility"),
        )
    )


# ---------------------------------------------------------------------------
# q213/q214 — greedy WordPiece tokenizer family (the second tokenizer
# next to BPE; operators/wordpiece.py). q213 is the trainer sign-off:
# vocabulary composition by (piece length, positional form) with the
# top piece per group. q214 is the deployment audit: per-source
# fertility / UNK share / bytes-per-piece from greedy longest-match
# segmentation of the word dictionary (corpus collapses once; the
# greedy loop is an unrolled F.aggregate struct fold, mirrored in
# DuckDB by a list_reduce fold — no Python in either loop).
# ---------------------------------------------------------------------------

from whale_sightings_spark.operators import wordpiece as WP  # noqa: E402


@register("q213_wordpiece_vocab", WP.wp_vocab_report_sql())
def q213_wordpiece_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return WP.wp_vocab_report(load_table(spark, sf_dir, "documents"))


@register("q214_wordpiece_audit", WP.wp_segment_audit_sql())
def q214_wordpiece_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return WP.wp_segment_audit(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q215 — tokenizer face-off: BPE vs greedy WordPiece fertility and
# bytes-per-token per source, trained on the SAME corpus with their
# own budgets. This is the decision audit a pipeline runs before
# committing a tokenizer: which family compresses this corpus better,
# and does the answer flip by source? Deltas subtract the two
# ALREADY-6dp-rounded fertilities (differences of 1e-6 multiples are
# exact — the q196 round-inputs-first discipline), so the comparison
# column can't sit on a rounding boundary. Both trainings are
# dictionary-scale; the word stream is joined once per tokenizer to
# its broadcast token-count table.
# ---------------------------------------------------------------------------

from whale_sightings_spark.operators import bpe as BPE  # noqa: E402


def _q215_sql() -> str:
    return f"""
    WITH {BPE.bpe_ctes()},
    {WP.wp_vocab_ctes()},
    seg AS ({WP.wp_word_stats_sql()}),
    wt AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens
           FROM s{BPE.BPE_ROUNDS} GROUP BY word),
    dw AS (
        SELECT source, word FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(lower(text)), ' +'))
                       AS word
            FROM documents
        ) WHERE word <> ''
    ),
    bpe AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_words,
               round(CAST(sum(coalesce(t.n_tokens, len(d.word)))
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                   AS bpe_fertility,
               round(CAST(sum(len(d.word)) AS DOUBLE)
                     / CAST(sum(coalesce(t.n_tokens, len(d.word)))
                            AS DOUBLE), 6) AS bpe_bpt
        FROM dw d LEFT JOIN wt t ON t.word = d.word
        GROUP BY source
    ),
    wp AS (
        SELECT source,
               round(CAST(sum(s.n_pieces) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS wp_fertility,
               round(CAST(sum(len(d.word)) AS DOUBLE)
                     / CAST(sum(s.n_pieces) AS DOUBLE), 6) AS wp_bpt
        FROM dw d JOIN seg s ON s.word = d.word
        GROUP BY source
    )
    SELECT b.source, b.n_words, b.bpe_fertility, w.wp_fertility,
           round(w.wp_fertility - b.bpe_fertility, 6) AS fert_delta,
           b.bpe_bpt, w.wp_bpt,
           CASE WHEN b.bpe_fertility < w.wp_fertility THEN 'bpe'
                WHEN w.wp_fertility < b.bpe_fertility THEN 'wordpiece'
                ELSE 'tie' END AS winner
    FROM bpe b JOIN wp w ON w.source = b.source
    """


@register("q215_tokenizer_faceoff", _q215_sql())
def q215_tokenizer_faceoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # BPE side served from the persisted artifact (identical rows —
    # training is deterministic over the same corpus); only the
    # WordPiece side trains inline, it has no iterative merge loop.
    wt = BPE.bpe_stored_word_tokens(
        spark, _bpe_artifact_dir(spark, sf_dir)
    ).select("word", "n_tokens")
    wd = WP._words(docs)
    seg = WP.wp_word_stats(wd, WP.wp_vocab(wd)).select("word", "n_pieces")
    dw = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), " +")
        ).alias("word"),
    ).filter(F.col("word") != "")
    # r12 (guide §2.3): BOTH tokenizer measures come off ONE pass over
    # the exploded corpus — the old shape exploded documents twice and
    # shuffled two per-source aggregations, then joined them. Left-join
    # both broadcast word tables and aggregate conditionally: the BPE
    # sums are unchanged; the WordPiece sums restrict to seg-matched
    # rows (exactly the old inner join's row set — integer sums, so
    # bit-identical), and sources with zero matched words are dropped
    # to reproduce the old inner b⋈w join semantics.
    merged = (
        dw.join(F.broadcast(wt), "word", "left")
        .join(F.broadcast(seg), "word", "left")
        .select(
            "source",
            "word",
            F.coalesce("n_tokens", F.length("word").cast("bigint")).alias(
                "n_toks"
            ),
            "n_pieces",
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.round(
                F.sum("n_toks").cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("bpe_fertility"),
            F.round(
                F.sum(F.length("word")).cast("double")
                / F.sum("n_toks").cast("double"),
                6,
            ).alias("bpe_bpt"),
            F.round(
                F.sum("n_pieces").cast("double")
                / F.count("n_pieces").cast("double"),
                6,
            ).alias("wp_fertility"),
            F.round(
                F.sum(
                    F.when(
                        F.col("n_pieces").isNotNull(), F.length("word")
                    )
                ).cast("double")
                / F.sum("n_pieces").cast("double"),
                6,
            ).alias("wp_bpt"),
            F.count("n_pieces").alias("_n_wp_matched"),
        )
        .filter(F.col("_n_wp_matched") > 0)
        .drop("_n_wp_matched")
    )
    return merged.select(
        "source",
        "n_words",
        "bpe_fertility",
        "wp_fertility",
        F.round(F.col("wp_fertility") - F.col("bpe_fertility"), 6).alias(
            "fert_delta"
        ),
        "bpe_bpt",
        "wp_bpt",
        F.when(F.col("bpe_fertility") < F.col("wp_fertility"), "bpe")
        .when(F.col("wp_fertility") < F.col("bpe_fertility"), "wordpiece")
        .otherwise("tie")
        .alias("winner"),
    )


# ---------------------------------------------------------------------------
# q222 — C4-style line-level cleanup (Raffel et al. 2020's cleanup
# recipe, re-expressed set-oriented): segment each document into
# fixed-width token lines (the corpus has no newlines, so the line
# grid is the deterministic q63 slicing — width _C4_LINE_W), then
# apply the three line screens that fire on this vocabulary, in rule
# order: (1) too-short lines (< _C4_MIN_TOK tokens — the tail line of
# most docs), (2) within-document duplicate lines (C4 drops repeats,
# keep-first by line_idx), (3) repetitive lines (distinct-token ratio
# < 1/2, integer-compared as 2*n_uniq < n_tok). Per-source report of
# line counts by drop reason plus the kept token share — the knob
# that says what the cleanup costs in training tokens.
# Scale: slicing is row-local (sequence + slice, zero pre-agg
# shuffles); the dup screen is one (doc_id, line)-keyed window
# (bounded per key); the report is one source-sized agg.
# ---------------------------------------------------------------------------

_C4_LINE_W = 8
_C4_MIN_TOK = 5


@register(
    "q222_c4_line_cleanup",
    f"""
    WITH t AS (
        SELECT doc_id, source, {TX.tokens_sql('text')} AS toks
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, toks,
               unnest(range(1, greatest(len(toks), 1) + 1, {_C4_LINE_W}))
                   AS start
        FROM t
    ),
    l AS (
        SELECT doc_id, source,
               CAST((start - 1) / {_C4_LINE_W} AS INT) AS line_idx,
               array_to_string(
                   list_slice(toks, start, start + {_C4_LINE_W} - 1), ' ')
                   AS line,
               len(list_slice(toks, start, start + {_C4_LINE_W} - 1))
                   AS n_tok,
               len(list_distinct(
                   list_slice(toks, start, start + {_C4_LINE_W} - 1)))
                   AS n_uniq
        FROM c
    ),
    r AS (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id, line ORDER BY line_idx) AS rn
        FROM l
    ),
    f AS (
        SELECT source, n_tok,
               CASE WHEN n_tok < {_C4_MIN_TOK} THEN 'short'
                    WHEN rn > 1 THEN 'dup'
                    WHEN 2 * n_uniq < n_tok THEN 'repetitive'
                    ELSE 'kept' END AS cls
        FROM r
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN cls = 'short' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short,
           CAST(sum(CASE WHEN cls = 'dup' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           CAST(sum(CASE WHEN cls = 'repetitive' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repetitive,
           CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           round(CAST(sum(CASE WHEN cls = 'kept' THEN n_tok ELSE 0 END)
                      AS DOUBLE)
                 / CAST(sum(n_tok) AS DOUBLE), 6) AS kept_token_share
    FROM f
    GROUP BY source
    """,
)
def q222_c4_line_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("toks")
    )
    c = t.select(
        "doc_id",
        "source",
        "toks",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("toks"), F.lit(1)),
                F.lit(_C4_LINE_W),
            )
        ).alias("start"),
    )
    seg = F.slice(F.col("toks"), F.col("start"), _C4_LINE_W)
    lines = c.select(
        "doc_id",
        "source",
        ((F.col("start") - 1) / _C4_LINE_W).cast("int").alias("line_idx"),
        F.concat_ws(" ", seg).alias("line"),
        F.size(seg).alias("n_tok"),
        F.size(F.array_distinct(seg)).alias("n_uniq"),
    )
    r = lines.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id", "line").orderBy("line_idx")
        ),
    )
    cls = (
        F.when(F.col("n_tok") < _C4_MIN_TOK, "short")
        .when(F.col("rn") > 1, "dup")
        .when(2 * F.col("n_uniq") < F.col("n_tok"), "repetitive")
        .otherwise("kept")
    )
    f = r.select("source", "n_tok", cls.alias("cls"))
    kept_tok = F.sum(F.when(F.col("cls") == "kept", F.col("n_tok")).otherwise(0))
    return f.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("cls") == "short", 1).otherwise(0))
        .cast("bigint")
        .alias("n_short"),
        F.sum(F.when(F.col("cls") == "dup", 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup"),
        F.sum(F.when(F.col("cls") == "repetitive", 1).otherwise(0))
        .cast("bigint")
        .alias("n_repetitive"),
        F.sum(F.when(F.col("cls") == "kept", 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.round(
            kept_tok.cast("double") / F.sum("n_tok").cast("double"), 6
        ).alias("kept_token_share"),
    )


# ---------------------------------------------------------------------------
# q223 — vocab-prune audit on the SHIPPED tokenizer: what does serving
# with only the first K/2 merges cost in fertility, per source? Greedy
# BPE training is prefix-stable — the first K' merges of a K-round
# training ARE the K'-round training — so "prune the vocab" is exactly
# "stop the merge sequence early", and both readouts come from ONE
# training: Spark re-applies the first _PRUNE_K stored merges to the
# stored word dictionary (the q203 shipped-tokenizer encode path,
# bounded merge-list collect); the oracle reads s{_PRUNE_K} and
# s{BPE_ROUNDS} out of the same CTE chain. The decision readout for
# vocab sizing: fert_delta is the price (extra tokens per word) of
# shipping the smaller vocabulary.
# Scale: corpus collapses once to the dictionary; the prune re-encode
# is _PRUNE_K vocab-scale passes; the join side is broadcast.
# ---------------------------------------------------------------------------

_PRUNE_K = BPE.BPE_ROUNDS // 2


def _q223_oracle() -> str:
    return f"""
    WITH {BPE.bpe_ctes()},
    wtf AS (SELECT word, CAST(count(*) AS BIGINT) AS ntf
            FROM s{BPE.BPE_ROUNDS} GROUP BY word),
    wtp AS (SELECT word, CAST(count(*) AS BIGINT) AS ntp
            FROM s{_PRUNE_K} GROUP BY word),
    dw AS (
        SELECT source, word FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(lower(text)), ' +')) AS word
            FROM documents
        ) WHERE word <> ''
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_words,
           round(CAST(sum(f.ntf) AS DOUBLE) / count(*), 6) AS fert_full,
           round(CAST(sum(p.ntp) AS DOUBLE) / count(*), 6) AS fert_pruned,
           round(CAST(sum(p.ntp) - sum(f.ntf) AS DOUBLE) / count(*), 6)
               AS fert_delta
    FROM dw d
    JOIN wtf f ON f.word = d.word
    JOIN wtp p ON p.word = d.word
    GROUP BY d.source
    """


@register("q223_bpe_prune_audit", _q223_oracle())
def q223_bpe_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    full_dir = _bpe_artifact_dir(spark, sf_dir)
    full_syms = BPE.bpe_stored_symbols(spark, full_dir)
    wtf = full_syms.groupBy("word").agg(
        F.count("*").cast("bigint").alias("ntf")
    )
    wd_full = full_syms.select("word", "wcount").distinct()
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in BPE.bpe_stored_merge_table(spark, full_dir)
        .orderBy("round")
        .limit(_PRUNE_K)
        .collect()
    ]
    wtp = BPE.bpe_apply_merges(wd_full, merges).groupBy("word").agg(
        F.count("*").cast("bigint").alias("ntp")
    )
    per_word = wtf.join(wtp, "word")
    dw = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias(
                "word"
            ),
        )
        .filter(F.col("word") != "")
    )
    return (
        dw.join(F.broadcast(per_word), "word")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.round(F.sum("ntf").cast("double") / F.count("*"), 6).alias(
                "fert_full"
            ),
            F.round(F.sum("ntp").cast("double") / F.count("*"), 6).alias(
                "fert_pruned"
            ),
            F.round(
                (F.sum("ntp") - F.sum("ntf")).cast("double") / F.count("*"),
                6,
            ).alias("fert_delta"),
        )
    )


# ---------------------------------------------------------------------------
# q260 — shingle-store rebuild-drift audit (round 11: the
# `operators/drift.rebuild_drift` core applied to the SEVENTH persisted
# surface, the shingle inverted index). Recompute the distinct
# (doc_id, shingle) postings over the history slice (doc_id % 5 <> 4)
# from first principles — the tokenize+shingle pass IS the audit's
# subject — and drift them against the STORED postings restricted to
# the same slice. Per-doc posting sets are slice-independent, so
# n_gained/n_lost price append-replay duplicates and eviction damage,
# the contract drift a maintenance job must see before trusting the
# store between rebuilds. Scale shape: one corpus pass over the slice
# (intentional), one bucket-partitioned store scan, one
# (doc_id, shingle)-keyed full-outer join — never corpus x corpus;
# integer outputs only (no float boundary in the hash gate).
# ---------------------------------------------------------------------------


def _q260_oracle() -> str:
    grams = TX.shingles_from_tokens_sql("t", 3)
    hold = "doc_id % 5 <> 4"
    return f"""
    WITH tk AS (
        SELECT doc_id, {TX.tokens_sql('text')} AS t FROM documents
    ),
    g AS (
        SELECT doc_id, unnest({grams}) AS shingle FROM tk
    ),
    dg AS (SELECT DISTINCT doc_id, shingle FROM g),
    h AS (SELECT doc_id, shingle FROM dg WHERE {hold}),
    s AS (SELECT doc_id, shingle FROM dg WHERE {hold}),
    j AS (
        SELECT h.doc_id IS NOT NULL AS in_hist,
               s.doc_id IS NOT NULL AS in_stored
        FROM h FULL OUTER JOIN s
          ON s.doc_id = h.doc_id AND s.shingle = h.shingle
    )
    SELECT CAST(sum(CASE WHEN in_hist THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hist_postings,
           CAST(sum(CASE WHEN in_stored THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stored_postings,
           CAST(sum(CASE WHEN in_hist AND in_stored THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stable,
           CAST(sum(CASE WHEN in_stored AND NOT in_hist THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gained,
           CAST(sum(CASE WHEN in_hist AND NOT in_stored THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost
    FROM j
    """


def shingle_hist_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — q260's history side: distinct postings over
    the hold slice, a pure function of documents.parquet, persisted as
    a derived table of the corpus-fingerprint-keyed shingle artifact
    (one tokenize per corpus generation; the stored inverted index the
    audit prices is never an input to this side)."""
    from pyspark.sql import functions as F

    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.cluster_store import _derived_table
    from whale_sightings_spark.plans.shingle_store import (
        shingle_artifact_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    hold = (F.col("doc_id") % 5) != 4
    return _derived_table(
        spark,
        shingle_artifact_dir(spark, sf_dir),
        "histpostings",
        lambda: SHI._distinct_postings(docs.filter(hold), SHI.SHINGLE_N)
        .select("doc_id", "shingle")
        .coalesce(2),
    )


@register("q260_shingle_rebuild_drift", _q260_oracle())
def q260_shingle_rebuild_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.operators.drift import rebuild_drift
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    hold = (F.col("doc_id") % 5) != 4
    hist = shingle_hist_postings(spark, sf_dir).select(
        "doc_id", "shingle"
    )
    stored = (
        SHI.stored_postings(spark, shingle_artifact_dir(spark, sf_dir))
        .filter(hold)
        .select("doc_id", "shingle")
    )
    return rebuild_drift(hist, stored, ["doc_id", "shingle"]).select(
        F.col("n_hist").alias("n_hist_postings"),
        F.col("n_stored").alias("n_stored_postings"),
        "n_stable",
        "n_gained",
        "n_lost",
    )
