"""Persisted n-gram language-model store — the sixth build-once/
serve-many artifact (after the IVF-PQ index, the BPE tokenizer, the
NB model, the shingle inverted index and the near-dup cluster labels).

The LM / perplexity query family (q97 bigram table, q120 perplexity
filter, q121 OOV rate, q136 interpolated backoff, q185 trigram stupid
backoff, q216 Kneser-Ney, q241 Good-Turing) all start from the same
corpus-scale step: tokenize ``documents.text`` and explode unigram /
bigram / trigram events. That is six-plus full corpus passes per bench
run (~12 s at sf0.1) and, at the 100 TB target, six tokenize-the-corpus
jobs where one would do. This module persists the per-document n-gram
COUNT tables once — counts are additive, so every consumer is an exact
aggregate of the stored partials and streaming ingest is a plain
append of per-batch counts (new doc_ids never collide with stored
ones; see ``streaming/events.py:streaming_lm_ingest``).

Reference behavior: the reference engine has no tokenizer at all
(`/root/reference/cleaner.py` is date/dedup/spatial cleaning); the LM
family is part of the training-data-pipeline surface the brief adds.

On-disk layout (all parquet):

- ``doc_uni/``   (doc_id, source, tok, n) — per-doc token occurrence
  counts, ``tok <> ''``; partitioned by ``bucket = pmod(hash(tok))``.
- ``doc_big/``   (doc_id, w1, w2, n) — per-doc adjacent-pair counts,
  both words non-empty; partitioned by hash(w1, w2) bucket.
- ``doc_tri/``   (doc_id, w1, w2, w3, n) — per-doc trigram counts,
  all three words non-empty; partitioned by hash(w1, w2, w3) bucket.
- ``uni/``       (tok, n) corpus unigram counts (partials; SUM at read).
- ``uni_train/`` (tok, n) over the ``doc_id % HOLD_MOD <> 0`` train
  split — the held-out-evaluation convention q185/q216 score with.
- ``pairs_train/`` (w1, w2, c12) train-split bigram counts (partials).
- ``tri_train/`` (w1, w2, w3, c123) train-split trigram counts.
- ``pairs/``     (w1, w2, pair_n) full-corpus bigram counts — written
  LAST, so the build-if-absent cache keys on ``pairs/_SUCCESS`` and a
  torn build is invisible (the `shingles.py` torn-write contract).
- ``doc_len/``   (doc_id, source, lang, len) — per-doc TOTAL token
  counts (v3), ``len = size(tokens(text))`` exactly as the inline
  retrieval queries compute their document-length side, nullable for
  null text so the stored stream is a drop-in for the corpus one.
  The BM25 / Dirichlet-QL family's |d| and (n_docs, avgdl) scalars
  and the q55 token histogram read THIS O(documents) table instead
  of re-tokenizing the corpus.
- ``doc_ids/``   (doc_id) — the ingested-document manifest (v2): the
  streaming ingest's anti-join reads THIS doc-id-only sidecar, so the
  per-trigger seen-set read is O(documents), never O(stored n-gram
  rows).
- ``ingest/b<id>/`` — one fully-written sub-store per streamed batch
  (same table names), published by atomic rename from a ``.tmp.``
  staging dir; readers union the base tables with every PUBLISHED
  batch dir, so a torn batch is invisible and a replay regenerates it
  exactly (v2 — closes the torn-batch loss window of the v1
  append-in-place ingest).

Aggregated tables hold PARTIAL counts: one row per key from the build
plus one per streaming-ingest batch. Readers SUM on the way in, which
keeps ingest O(batch) instead of O(vocab) per trigger. Derived
marginals (bigram-head totals ``first_n``, KN continuation counts) are
windows/aggs over the vocab-bounded aggregated tables, never over the
corpus.

``HOLD_MOD`` is part of the artifact format: the train-split tables
are materialized under it, so changing the split requires a format-
version bump (rebuilding the cache), not a silent reinterpretation.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whale_sightings_spark.functions.text import tokens
from whale_sightings_spark.plans.store_utils import read_store_table

#: artifact layout version — bump to invalidate caches on format change.
#: v2 (round 9): doc_ids manifest + atomic per-batch ingest dirs +
#: compaction-in-progress sentinel
#: v3 (round 9): doc_len table — per-doc token totals, the retrieval
#: family's document-length side (BM25 / Dirichlet QL) and the
#: token-histogram family's length stream
NGRAM_LM_FORMAT_VERSION = 3

#: held-out split modulus (docs with doc_id % HOLD_MOD == 0 are held
#: out; the rest train) — the q185/q216 evaluation convention
HOLD_MOD = 10

#: file-layout partitions of the per-doc event tables; n-gram-keyed
#: probes prune to their buckets, and at 100 TB each bucket is still a
#: splittable parquet directory, not one giant file
N_LM_BUCKETS = 16

_DOC_UNI_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("tok", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)
_DOC_BIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("w1", T.StringType()),
        T.StructField("w2", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)
_DOC_TRI_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("w1", T.StringType()),
        T.StructField("w2", T.StringType()),
        T.StructField("w3", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)
_UNI_SCHEMA = T.StructType(
    [
        T.StructField("tok", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)
_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("w1", T.StringType()),
        T.StructField("w2", T.StringType()),
        T.StructField("pair_n", T.LongType()),
    ]
)
_TRI_SCHEMA = T.StructType(
    [
        T.StructField("w1", T.StringType()),
        T.StructField("w2", T.StringType()),
        T.StructField("w3", T.StringType()),
        T.StructField("c123", T.LongType()),
    ]
)
_PAIRS_TRAIN_SCHEMA = T.StructType(
    [
        T.StructField("w1", T.StringType()),
        T.StructField("w2", T.StringType()),
        T.StructField("c12", T.LongType()),
    ]
)
_DOC_IDS_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])
_DOC_LEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("len", T.LongType()),
    ]
)


def lm_artifact_paths(artifact_dir: str) -> dict[str, str]:
    """Name -> directory map; ``pairs`` is written LAST and carries the
    build-complete marker."""
    base = artifact_dir.rstrip("/")
    return {
        "doc_uni": base + "/doc_uni",
        "doc_big": base + "/doc_big",
        "doc_tri": base + "/doc_tri",
        "uni": base + "/uni",
        "uni_train": base + "/uni_train",
        "pairs_train": base + "/pairs_train",
        "tri_train": base + "/tri_train",
        "pairs": base + "/pairs",
        "doc_ids": base + "/doc_ids",
        "doc_len": base + "/doc_len",
    }


#: table keys every ingest batch dir carries (doc_ids is the batch
#: manifest; pairs stays the base store's completeness marker)
LM_TABLE_KEYS = (
    "doc_uni",
    "doc_big",
    "doc_tri",
    "uni",
    "uni_train",
    "pairs_train",
    "tri_train",
    "pairs",
    "doc_ids",
    "doc_len",
)


def lm_ingest_root(artifact_dir: str) -> str:
    """Directory of per-batch ingest sub-stores (``b<batch_id>/``)."""
    return artifact_dir.rstrip("/") + "/ingest"


# ---------------------------------------------------------------------------
# event extraction — EXACTLY the inline q120/q185/q216 shapes (postion
# windows over the raw token array with per-event empty filters), so
# the stored counts are a drop-in replacement for the corpus streams
# ---------------------------------------------------------------------------


def doc_unigram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, source, tok, n): per-doc occurrence counts of non-empty
    whitespace tokens — the q121/q136/q241 unigram event stream,
    collapsed per document."""
    return (
        docs.select(
            "doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "source", "tok")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def doc_bigram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, n): per-doc adjacent-pair counts, both words
    non-empty — the q97/q120/q136/q216 bigram event stream."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    return (
        toks.select("doc_id", "w", F.posexplode("w").alias("i", "w1"))
        .select(
            "doc_id", "w1", F.try_element_at("w", F.col("i") + 2).alias("w2")
        )
        .filter(
            (F.col("w1") != "")
            & F.col("w2").isNotNull()
            & (F.col("w2") != "")
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def doc_trigram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, w3, n): per-doc trigram counts, all three words
    non-empty — the q185 trigram event stream."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("w"))
    return (
        toks.select("doc_id", "w", F.posexplode("w").alias("i", "w1"))
        .select(
            "doc_id",
            "w1",
            F.try_element_at("w", F.col("i") + 2).alias("w2"),
            F.try_element_at("w", F.col("i") + 3).alias("w3"),
        )
        .filter(
            (F.col("w1") != "")
            & F.col("w2").isNotNull()
            & (F.col("w2") != "")
            & F.col("w3").isNotNull()
            & (F.col("w3") != "")
        )
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def doc_len_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, source, lang, len): per-doc TOTAL token count,
    ``len = size(tokens(text))`` — the exact value the inline
    retrieval family's ``dl`` aggregate produces per document (array
    size == exploded-row count, empty tokens included), kept nullable
    for null text so length-histogram consumers see the same NULL
    group the corpus stream yields. ``lang`` is carried when the
    input has it (the documents table does; synthetic test corpora
    may not) and NULL otherwise.

    The NULL-for-null-text contract is written EXPLICITLY (ADVICE r9):
    a bare ``size(tokens(null))`` is NULL only under ANSI mode — with
    ``spark.sql.ansi.enabled=false`` the legacy ``sizeOfNull`` returns
    -1, which would slip past every ``len.isNotNull()`` filter
    downstream (q103/q190/`bm25_score_docs_from_store`) and skew
    n_docs/avgdl. The ``when`` form holds under either config."""
    lang = (
        F.col("lang")
        if "lang" in docs.columns
        else F.lit(None).cast("string")
    )
    return docs.select(
        F.col("doc_id").cast("long"),
        "source",
        lang.alias("lang"),
        F.when(F.col("text").isNull(), F.lit(None).cast("long"))
        .otherwise(F.size(tokens(F.col("text"))).cast("long"))
        .alias("len"),
    )


def _train(col_doc_id):
    return col_doc_id % HOLD_MOD != 0


def build_lm_artifact(docs: DataFrame, artifact_dir: str) -> str:
    """One corpus tokenize pass per n-gram order, then every aggregated
    table derives from the WRITTEN per-doc tables — the corpus text is
    never re-read. One repartition per event table keyed by its bucket
    lays the files out for partition-pruned probes."""
    paths = lm_artifact_paths(artifact_dir)
    spark = docs.sparkSession

    du = doc_unigram_counts(docs).withColumn(
        "bucket", F.pmod(F.hash("tok"), F.lit(N_LM_BUCKETS)).cast("int")
    )
    (
        du.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(paths["doc_uni"])
    )
    db = doc_bigram_counts(docs).withColumn(
        "bucket", F.pmod(F.hash("w1", "w2"), F.lit(N_LM_BUCKETS)).cast("int")
    )
    (
        db.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(paths["doc_big"])
    )
    dt = doc_trigram_counts(docs).withColumn(
        "bucket",
        F.pmod(F.hash("w1", "w2", "w3"), F.lit(N_LM_BUCKETS)).cast("int"),
    )
    (
        dt.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(paths["doc_tri"])
    )

    s_du = spark.read.schema(_DOC_UNI_SCHEMA).parquet(paths["doc_uni"])
    (
        s_du.groupBy("tok")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .write.mode("overwrite")
        .parquet(paths["uni"])
    )
    (
        s_du.filter(_train(F.col("doc_id")))
        .groupBy("tok")
        .agg(F.sum("n").cast("bigint").alias("n"))
        .write.mode("overwrite")
        .parquet(paths["uni_train"])
    )
    s_db = spark.read.schema(_DOC_BIG_SCHEMA).parquet(paths["doc_big"])
    (
        s_db.filter(_train(F.col("doc_id")))
        .groupBy("w1", "w2")
        .agg(F.sum("n").cast("bigint").alias("c12"))
        .write.mode("overwrite")
        .parquet(paths["pairs_train"])
    )
    s_dt = spark.read.schema(_DOC_TRI_SCHEMA).parquet(paths["doc_tri"])
    (
        s_dt.filter(_train(F.col("doc_id")))
        .groupBy("w1", "w2", "w3")
        .agg(F.sum("n").cast("bigint").alias("c123"))
        .write.mode("overwrite")
        .parquet(paths["tri_train"])
    )
    # v3: per-doc token totals — the retrieval family's length side
    (
        doc_len_counts(docs)
        .write.mode("overwrite")
        .parquet(paths["doc_len"])
    )
    # v2: the doc-id manifest — includes token-less documents, so the
    # ingest anti-join skips EVERY already-seen doc without touching an
    # n-gram table (O(documents) per trigger, the ADVICE r8 contract)
    (
        docs.select(F.col("doc_id").cast("long"))
        .distinct()
        .write.mode("overwrite")
        .parquet(paths["doc_ids"])
    )
    # full-corpus pair counts LAST — the completeness marker
    (
        s_db.groupBy("w1", "w2")
        .agg(F.sum("n").cast("bigint").alias("pair_n"))
        .write.mode("overwrite")
        .parquet(paths["pairs"])
    )
    return artifact_dir


# ---------------------------------------------------------------------------
# readers — aggregated tables SUM their on-disk partials so streaming
# ingest appends stay exact; per-doc tables are plain reads (batches
# are anti-joined to new doc_ids, so rows never collide)
# ---------------------------------------------------------------------------


def stored_doc_ids(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(doc_id) — the ingested-document manifest (base + every
    published batch), the O(documents) seen-set the streaming ingest
    anti-joins against."""
    return read_store_table(spark, artifact_dir, "doc_ids", _DOC_IDS_SCHEMA)


def stored_doc_len(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(doc_id, source, lang, len) per-doc total token counts (base +
    published batches; rows are per-doc, so the union never needs a
    re-aggregate)."""
    return read_store_table(spark, artifact_dir, "doc_len", _DOC_LEN_SCHEMA)


def stored_doc_uni(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(doc_id, source, tok, n, bucket) per-doc token counts."""
    return read_store_table(spark, artifact_dir, "doc_uni", _DOC_UNI_SCHEMA)


def stored_doc_big(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(doc_id, w1, w2, n, bucket) per-doc bigram counts."""
    return read_store_table(spark, artifact_dir, "doc_big", _DOC_BIG_SCHEMA)


def stored_doc_tri(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(doc_id, w1, w2, w3, n, bucket) per-doc trigram counts."""
    return read_store_table(spark, artifact_dir, "doc_tri", _DOC_TRI_SCHEMA)


#: memoized term -> bucket-id resolution. The bucket of a LITERAL query
#: term is a pure function of the term string (Spark's murmur hash) and
#: N_LM_BUCKETS — it never depends on any table — so it is evaluated
#: once per term set as a OneRowRelation projection (local eval, no
#: job, no scan) and reused for the life of the process. r12: the
#: previous per-invocation createDataFrame -> distinct -> collect spent
#: ~1 s of pure job overhead on every retrieval-family query.
_TERM_BUCKET_MEMO: dict[tuple, list[int]] = {}


def _term_buckets(spark: SparkSession, terms: tuple) -> list[int]:
    got = _TERM_BUCKET_MEMO.get(terms)
    if got is None:
        # literals via F.lit, not SQL text (ADVICE r12: quoting only
        # escaped single quotes, so a backslash in a term produced a
        # malformed literal, and escapedStringLiterals=true broke \').
        # Still a OneRowRelation projection: local eval, no job.
        row = (
            spark.sql("SELECT 1")
            .select(
                F.array(
                    *[
                        F.pmod(F.hash(F.lit(t)), F.lit(N_LM_BUCKETS)).cast(
                            "int"
                        )
                        for t in terms
                    ]
                ).alias("bs")
            )
            .collect()[0]
        )
        got = sorted(set(row["bs"]))
        _TERM_BUCKET_MEMO[terms] = got
    return got


def stored_term_postings(
    spark: SparkSession, artifact_dir: str, terms
) -> DataFrame:
    """(doc_id, source, tok, n) rows of ``doc_uni`` for a literal query
    term set — the retrieval family's tf side. The terms' bucket ids
    (≤ |terms| scalars from one memoized local hash evaluation) become
    a partition IN-filter, so the probe reads |term buckets| /
    N_LM_BUCKETS of the stored index at rest (the q244/q250 pruned-
    probe convention), never the corpus and never a full index scan."""
    buckets = _term_buckets(spark, tuple(terms))
    return (
        stored_doc_uni(spark, artifact_dir)
        .filter(F.col("bucket").isin(buckets) & F.col("tok").isin(list(terms)))
        .select("doc_id", "source", "tok", "n")
    )


def stored_uni(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(tok, n) corpus unigram counts (partials summed at read)."""
    return (
        read_store_table(spark, artifact_dir, "uni", _UNI_SCHEMA)
        .groupBy("tok")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def stored_uni_train(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(tok, n) train-split unigram counts (partials summed at read)."""
    return (
        read_store_table(spark, artifact_dir, "uni_train", _UNI_SCHEMA)
        .groupBy("tok")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def stored_pairs(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(w1, w2, pair_n, first_n) — the full-corpus bigram LM. The
    ``first_n`` head total is a w1-keyed window over the vocab-bounded
    aggregated table (the inline q97/q120 shape, minus the corpus
    pass that used to precede it)."""
    from pyspark.sql import Window as W

    pc = (
        read_store_table(spark, artifact_dir, "pairs", _PAIRS_SCHEMA)
        .groupBy("w1", "w2")
        .agg(F.sum("pair_n").cast("bigint").alias("pair_n"))
    )
    return pc.withColumn(
        "first_n", F.sum("pair_n").over(W.partitionBy("w1"))
    )


def stored_pairs_train(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(w1, w2, c12) train-split bigram counts (partials summed)."""
    return (
        read_store_table(spark, artifact_dir, "pairs_train", _PAIRS_TRAIN_SCHEMA)
        .groupBy("w1", "w2")
        .agg(F.sum("c12").cast("bigint").alias("c12"))
    )


def stored_tri_train(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(w1, w2, w3, c123) train-split trigram counts (partials summed)."""
    return (
        read_store_table(spark, artifact_dir, "tri_train", _TRI_SCHEMA)
        .groupBy("w1", "w2", "w3")
        .agg(F.sum("c123").cast("bigint").alias("c123"))
    )


def bm25_score_docs_from_store(
    batch_docs: DataFrame,
    spark: SparkSession,
    artifact_dir: str,
    terms,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25-score ARRIVING documents against the STORED corpus
    statistics — the deployed-search-scorer shape: df and the
    (n_docs, avgdl) scalars come off the persisted index (broadcast,
    bucket-pruned probe), only the batch itself is tokenized
    (O(batch tokens) per call). EVERY arriving doc is kept — no-match
    docs score 0.0 and null-text docs come through with a NULL len
    (the per-doc side is `doc_len_counts` over the batch, not the
    exploded token stream, which would silently drop them — ADVICE
    r9) — so a downstream gate sees the full batch.
    Returns (doc_id, source, len, n_matched, score). Lucene-style
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — q103's scoring contract
    with the corpus-side inputs swapped for the store."""
    probe = stored_term_postings(spark, artifact_dir, terms)
    dfreq = probe.groupBy("tok").agg(F.count("*").alias("df"))
    stats = (
        stored_doc_len(spark, artifact_dir)
        .filter(F.col("len").isNotNull())
        .agg(F.count("*").alias("n_docs"), F.avg("len").alias("avgdl"))
    )
    btoks = batch_docs.select(
        F.col("doc_id").cast("long"),
        "source",
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    # per-doc length side: doc_len_counts keeps null-text docs (NULL
    # len) where the exploded stream yields no rows for them at all
    bl = doc_len_counts(batch_docs).select("doc_id", "source", "len")
    btf = (
        btoks.filter(F.col("tok").isin(list(terms)))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    term_score = (
        F.log(
            1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("len") / F.col("avgdl"))
        )
    )
    matched = (
        btf.join(F.broadcast(dfreq), "tok")
        .join(bl.select("doc_id", "len"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score", term_score)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matched"),
            F.sum("term_score").alias("score"),
        )
    )
    return (
        bl.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "len",
            F.coalesce("n_matched", F.lit(0)).cast("bigint").alias(
                "n_matched"
            ),
            F.round(F.coalesce("score", F.lit(0.0)), 6).alias("score"),
        )
    )


def compact_lm_store(spark: SparkSession, artifact_dir: str) -> dict[str, int]:
    """Store maintenance after streaming ingest: each
    ``streaming_lm_ingest`` trigger publishes one per-batch sub-store;
    after enough triggers every reader unions ever more batch dirs and
    the sum-at-read readers fold ever-taller partial stacks. Compaction
    folds every published batch into the base tables — (a) per-doc
    tables rewritten in the SAME bucket-partitioned layout with one
    file per bucket, (b) aggregated tables collapsed to ONE row per
    key, (c) the doc-id manifest de-duplicated — then removes the
    folded batch dirs. Semantically invisible: readers either read
    per-doc rows (disjoint, unchanged) or sum partials (sums are
    unchanged by pre-summing).

    Runs under the ``COMPACTING`` sentinel (`plans.store_utils`);
    ``pairs``, the completeness-marker table, swaps first. Requires
    exclusive access to the artifact (no concurrent ingest or
    build-if-absent callers). Returns {"files_before": n,
    "files_after": m}."""
    import os
    import shutil

    from whale_sightings_spark.plans.store_utils import (
        compacting_sentinel,
        ingest_batch_dirs,
        parquet_files,
        swap_table,
    )

    paths = lm_artifact_paths(artifact_dir)
    roots = list(paths.values()) + [lm_ingest_root(artifact_dir)]
    before = parquet_files(*roots)
    sentinel = compacting_sentinel(artifact_dir)
    with open(sentinel, "w") as fh:
        fh.write(str(os.getpid()))
    # aggregated tables (pairs FIRST — it carries the completeness
    # marker): collapse base + batch partials to one row per key
    for key, keys, val in (
        ("pairs", ["w1", "w2"], "pair_n"),
        ("uni", ["tok"], "n"),
        ("uni_train", ["tok"], "n"),
        ("pairs_train", ["w1", "w2"], "c12"),
        ("tri_train", ["w1", "w2", "w3"], "c123"),
    ):
        df = spark.read.parquet(paths[key])
        for b in ingest_batch_dirs(artifact_dir):
            t = os.path.join(b, key)
            if os.path.isdir(t):
                df = df.unionByName(spark.read.parquet(t))
        merged = df.groupBy(*keys).agg(F.sum(val).cast("bigint").alias(val))
        swap_table(
            paths[key],
            lambda staging, m=merged: m.write.mode("overwrite").parquet(
                staging
            ),
        )
    # per-doc tables: defrag within the preserved bucket layout
    for key, schema in (
        ("doc_uni", _DOC_UNI_SCHEMA),
        ("doc_big", _DOC_BIG_SCHEMA),
        ("doc_tri", _DOC_TRI_SCHEMA),
    ):
        df = read_store_table(spark, artifact_dir, key, schema)
        swap_table(
            paths[key],
            lambda staging, df=df: (
                df.repartition("bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(staging)
            ),
        )
    # the doc-id manifest: de-duplicate base + batches
    ids = stored_doc_ids(spark, artifact_dir).distinct()
    swap_table(
        paths["doc_ids"],
        lambda staging: ids.write.mode("overwrite").parquet(staging),
    )
    # per-doc lengths: defrag (rows are per-doc and disjoint across
    # batches — a plain rewrite, no re-aggregate)
    dlen = stored_doc_len(spark, artifact_dir)
    swap_table(
        paths["doc_len"],
        lambda staging: dlen.write.mode("overwrite").parquet(staging),
    )
    # every batch is folded into the base tables — drop the batch dirs
    shutil.rmtree(lm_ingest_root(artifact_dir), ignore_errors=True)
    os.remove(sentinel)
    return {"files_before": before, "files_after": parquet_files(*roots)}


def source_kl_vs_stored(
    batch_docs: DataFrame, spark: SparkSession, artifact_dir: str
) -> DataFrame:
    """Per-source unigram KL of a (possibly out-of-corpus) document
    batch against the STORED corpus distribution — q248's statistic
    generalized to arriving data. Unlike q248, batch tokens may be
    absent from the reference, so the KL is computed over the
    IN-VOCABULARY support with the batch distribution renormalized to
    it, and the out-of-vocabulary token mass is reported beside it
    (the standard restrict-support + report-oov treatment; smoothing
    the reference would make the number depend on an arbitrary
    epsilon). Columns: source, n_tokens, in_vocab_share, kl_nats
    (NULL when a source has no in-vocab tokens). Deterministic given
    (batch, store) — the streaming twin's per-batch outputs equal
    this applied to each batch's documents."""
    bc = doc_unigram_counts(batch_docs).groupBy("source", "tok").agg(
        F.sum("n").cast("bigint").alias("c")
    )
    ref = stored_uni(spark, artifact_dir).select(
        "tok", F.col("n").alias("cc")
    )
    cn = ref.agg(F.sum("cc").alias("cn"))
    j = bc.join(ref, "tok", "left").crossJoin(F.broadcast(cn))
    iv = F.col("cc").isNotNull()
    per_src = j.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(F.when(iv, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_in_vocab"),
        # sum of c*ln(c / (cc/cn)) over in-vocab rows; the sn_in
        # normalization enters outside the sum:
        #   KL = (1/sn_in) * sum_c c*ln c  - ln(sn_in)
        #        - (1/sn_in) * sum_c c*ln(cc/cn)
        F.sum(F.when(iv, F.col("c") * F.log(F.col("c")))).alias("s_clnc"),
        F.sum(
            F.when(iv, F.col("c") * F.log(F.col("cc") / F.col("cn")))
        ).alias("s_clnq"),
    )
    sn_in = F.col("n_in_vocab").cast("double")
    kl = (
        (F.col("s_clnc") - F.col("s_clnq")) / sn_in - F.log(sn_in)
    )
    return per_src.select(
        "source",
        "n_tokens",
        F.round(sn_in / F.col("n_tokens"), 6).alias("in_vocab_share"),
        F.when(F.col("n_in_vocab") > 0, F.round(kl, 6)).alias("kl_nats"),
    )
