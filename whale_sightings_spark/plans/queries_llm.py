"""Registered queries for the net-new training-data-pipeline surface
(dedup / similarity / text analysis) over ``documents`` and
``embeddings``. Imported by plans.queries for registry side effects.

Each query pairs the Spark operator (operators/dedup, similarity,
functions/text) with a DuckDB oracle generated from the *same* Python
constants — one spec, two engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whale_sightings_spark.functions import text as TX
from whale_sightings_spark.functions.hashing import (
    band_keys_sql,
    hash60_sql,
    minhash_signature_sql,
    simhash_sql,
    simhash_band_sql,
    hamming60_sql,
)
from whale_sightings_spark.operators import dedup as DD
from whale_sightings_spark.operators import drift as DR
from whale_sightings_spark.operators import similarity as SIM
from whale_sightings_spark.plans.queries import register
from whale_sightings_spark.plans.store_utils import artifact_dir
from whale_sightings_spark.schemas import load_table
from whale_sightings_spark.session import barrier

# ---------------------------------------------------------------------------
# q13 — exact dedup (hash-groupBy on normalized fingerprint)
# ---------------------------------------------------------------------------

@register(
    "q13_dedup_exact",
    f"""
    SELECT {TX.fingerprint_md5_sql('text')} AS fp,
           min(doc_id) AS survivor_id,
           count(*) AS group_size
    FROM documents
    GROUP BY 1
    """,
)
def q13_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.dedup_exact(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# q14 — n-gram Jaccard near-dup pairs (inverted index + df cap)
# ---------------------------------------------------------------------------

_SHINGLES = TX.word_shingles_sql("text", DD.SHINGLE_N)

_JACCARD_BASE = f"""
    WITH spairs AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents)
    ),
    keep AS (
        SELECT shingle FROM spairs GROUP BY shingle HAVING count(*) <= {DD.MAX_SHINGLE_DF}
    ),
    fpairs AS (SELECT p.doc_id, p.shingle FROM spairs p JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM fpairs GROUP BY doc_id)
"""


@register(
    "q14_dedup_ngram_jaccard",
    _JACCARD_BASE
    + f"""
    , inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM fpairs a JOIN fpairs b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = inter.doc_a
    JOIN sizes sb ON sb.doc_id = inter.doc_b
    WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= {DD.JACCARD_THRESHOLD}
    """,
)
def q14_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 8: the df-capped posting table serves from the persisted
    # shingle index (same rows as the inline _shingle_docs — the build
    # is deterministic), so the dedup DAG starts at the stored parquet
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    pairs = SHI.capped_postings(
        spark, shingle_artifact_dir(spark, sf_dir), DD.MAX_SHINGLE_DF
    ).select("doc_id", "shingle")
    return DD.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), pairs=pairs
    )


# ---------------------------------------------------------------------------
# q15 — MinHash + LSH near-dup (shingle -> minhash -> band -> bucket join)
# ---------------------------------------------------------------------------

_SIG_EXPRS = minhash_signature_sql("shingles")
_BAND_EXPRS = band_keys_sql([f"sig[{i + 1}]" for i in range(len(_SIG_EXPRS))])


@register(
    "q15_dedup_minhash_lsh",
    f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES} AS shingles FROM documents
    ),
    sig AS (
        SELECT doc_id, [{", ".join(_SIG_EXPRS)}] AS sig
        FROM sh WHERE len(shingles) > 0
    ),
    banded AS (
        SELECT doc_id, unnest([{", ".join(_BAND_EXPRS)}]) AS band FROM sig
    ),
    kept_bands AS (
        SELECT band FROM banded GROUP BY band
        HAVING count(*) > 1 AND count(*) <= {DD.MAX_BAND_BUCKET}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
        JOIN kept_bands k ON k.band = a.band
    ),
    spairs AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents)
    ),
    keep AS (
        SELECT shingle FROM spairs GROUP BY shingle HAVING count(*) <= {DD.MAX_SHINGLE_DF}
    ),
    fpairs AS (SELECT p.doc_id, p.shingle FROM spairs p JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM fpairs GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cands c
        JOIN fpairs a ON a.doc_id = c.doc_a
        JOIN fpairs b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = inter.doc_a
    JOIN sizes sb ON sb.doc_id = inter.doc_b
    WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= {DD.JACCARD_THRESHOLD}
    """,
)
def q15_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 10: served from the persisted minhash-cluster artifact's
    # pair table (the q16 convention — `DD.minhash_lsh_pairs` runs
    # exactly once per corpus fingerprint at build; deterministic, so
    # the stored table is row-equal to re-deriving). Staleness is
    # covered by the fingerprint key + the q251/q243 drift audits.
    from whale_sightings_spark.plans.cluster_store import (
        stored_minhash_pairs,
    )

    return stored_minhash_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )


# ---------------------------------------------------------------------------
# q138 — incremental near-dup probe: the daily-delta shape of q15 —
# NEW docs (doc_id >= split) probe the EXISTING corpus's band index
# (doc_id < split); history x history pairs are never generated
# (operators/dedup.minhash_incremental_pairs). The fixed split id
# stands in for the ingest watermark a production run passes.
# ---------------------------------------------------------------------------

_INC_SPLIT = 400


@register(
    "q138_incremental_neardup",
    f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES} AS shingles FROM documents
    ),
    sig AS (
        SELECT doc_id, [{", ".join(_SIG_EXPRS)}] AS sig
        FROM sh WHERE len(shingles) > 0
    ),
    banded AS (
        SELECT doc_id, unnest([{", ".join(_BAND_EXPRS)}]) AS band FROM sig
    ),
    hb AS (SELECT doc_id AS doc_hist, band FROM banded WHERE doc_hist < {_INC_SPLIT}),
    bb AS (SELECT doc_id AS doc_new, band FROM banded WHERE doc_new >= {_INC_SPLIT}),
    kept AS (
        SELECT band FROM hb GROUP BY band HAVING count(*) <= {DD.MAX_BAND_BUCKET}
    ),
    cands AS (
        SELECT DISTINCT b.doc_new, h.doc_hist
        FROM bb b
        JOIN hb h ON h.band = b.band
        JOIN kept k ON k.band = b.band
    ),
    spairs AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents)
    ),
    keep AS (
        SELECT shingle FROM spairs GROUP BY shingle HAVING count(*) <= {DD.MAX_SHINGLE_DF}
    ),
    fpairs AS (SELECT p.doc_id, p.shingle FROM spairs p JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM fpairs GROUP BY doc_id),
    inter AS (
        SELECT c.doc_new, c.doc_hist, count(*) AS n_common
        FROM cands c
        JOIN fpairs a ON a.doc_id = c.doc_new
        JOIN fpairs b ON b.doc_id = c.doc_hist AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_new, doc_hist,
           round(CAST(n_common AS DOUBLE) / (zn.n + zh.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes zn ON zn.doc_id = inter.doc_new
    JOIN sizes zh ON zh.doc_id = inter.doc_hist
    WHERE round(CAST(n_common AS DOUBLE) / (zn.n + zh.n - n_common), 6) >= {DD.JACCARD_THRESHOLD}
    """,
)
def q138_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: the exact-Jaccard verify side serves from the stored
    # shingle postings (the q14 convention); the MinHash banding stays
    # inline — it is the delta-probe mechanism under test
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    pairs = SHI.capped_postings(
        spark, shingle_artifact_dir(spark, sf_dir), DD.MAX_SHINGLE_DF
    ).select("doc_id", "shingle")
    return DD.minhash_incremental_pairs(
        load_table(spark, sf_dir, "documents"), _INC_SPLIT, pairs=pairs
    )


# ---------------------------------------------------------------------------
# q129 — MinHash sketch-quality audit: estimated vs exact Jaccard over
# every LSH candidate pair (operators/dedup.minhash_estimate_audit).
# False-positive band collisions (zero shared shingles) stay in the
# output with exact = 0 — candidates LEFT-join the intersection.
# ---------------------------------------------------------------------------

_MINHASH_SIGLEN = len(_SIG_EXPRS)


@register(
    "q129_minhash_estimate_audit",
    f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES} AS shingles FROM documents
    ),
    sig AS (
        SELECT doc_id, [{", ".join(_SIG_EXPRS)}] AS sig
        FROM sh WHERE len(shingles) > 0
    ),
    banded AS (
        SELECT doc_id, unnest([{", ".join(_BAND_EXPRS)}]) AS band FROM sig
    ),
    kept_bands AS (
        SELECT band FROM banded GROUP BY band
        HAVING count(*) > 1 AND count(*) <= {DD.MAX_BAND_BUCKET}
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
        JOIN kept_bands k ON k.band = a.band
    ),
    spairs AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents)
    ),
    keep AS (
        SELECT shingle FROM spairs GROUP BY shingle HAVING count(*) <= {DD.MAX_SHINGLE_DF}
    ),
    fpairs AS (SELECT p.doc_id, p.shingle FROM spairs p JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM fpairs GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cands c
        JOIN fpairs a ON a.doc_id = c.doc_a
        JOIN fpairs b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_filter(range(1, {_MINHASH_SIGLEN} + 1),
                     i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
                 / {_MINHASH_SIGLEN}, 6) AS est_jaccard,
           round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                 / (za.n + zb.n - coalesce(i.n_common, 0)), 6) AS exact_jaccard,
           round(abs(round(CAST(len(list_filter(range(1, {_MINHASH_SIGLEN} + 1),
                         i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
                     / {_MINHASH_SIGLEN}, 6)
                     - round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                       / (za.n + zb.n - coalesce(i.n_common, 0)), 6)), 6) AS abs_err
    FROM cands c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    """,
)
def q129_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: the exact-Jaccard truth side serves from the stored
    # shingle postings; the MinHash signatures stay inline — the
    # sketch quality is what this audit measures
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    pairs = SHI.capped_postings(
        spark, shingle_artifact_dir(spark, sf_dir), DD.MAX_SHINGLE_DF
    ).select("doc_id", "shingle")
    return DD.minhash_estimate_audit(
        load_table(spark, sf_dir, "documents"), pairs=pairs
    )


# ---------------------------------------------------------------------------
# q16 — SimHash near-dup (60-bit signature, banded blocking, Hamming verify)
# ---------------------------------------------------------------------------

_TOKEN_HASHES = f"list_transform({TX.tokens_sql('text')}, t -> {hash60_sql('t')})"
_SIMHASH_BANDS_SQL = ", ".join(
    f"'{i}' || ':' || CAST({simhash_band_sql('sh', i)} AS VARCHAR)" for i in range(4)
)


def _simhash_pairs_sql_p(prefix: str = "", where: str = "") -> str:
    """The SimHash pair query with optionally prefixed CTE names and a
    corpus restriction — the prefix form lets two chains (history vs
    full, q243) coexist in one oracle statement."""
    p = prefix
    w = f"WHERE {where}" if where else ""
    return f"""
    WITH {p}th AS (
        SELECT doc_id, {_TOKEN_HASHES} AS hashes FROM documents {w}
    ),
    {p}sig AS (
        SELECT doc_id, {simhash_sql('hashes')} AS sh FROM {p}th
        WHERE len(hashes) > 0
    ),
    {p}banded AS (
        SELECT doc_id, sh, unnest([{_SIMHASH_BANDS_SQL}]) AS band FROM {p}sig
    ),
    {p}kept_bands AS (
        SELECT band FROM {p}banded GROUP BY band
        HAVING count(*) > 1 AND count(*) <= {DD.MAX_BAND_BUCKET}
    ),
    {p}cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.sh AS sh_a, b.sh AS sh_b
        FROM {p}banded a
        JOIN {p}banded b ON a.band = b.band AND a.doc_id < b.doc_id
        JOIN {p}kept_bands k ON k.band = a.band
    )
    SELECT doc_a, doc_b, {hamming60_sql('sh_a', 'sh_b')} AS hamming
    FROM {p}cands
    WHERE {hamming60_sql('sh_a', 'sh_b')} <= {DD.HAMMING_THRESHOLD}
    """


_SIMHASH_PAIRS_SQL = _simhash_pairs_sql_p()


@register("q16_dedup_simhash", _SIMHASH_PAIRS_SQL)
def q16_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: served from the persisted cluster artifact's pair table
    # (the build — `dedup.build_cluster_artifact` — runs the inline
    # `DD.simhash_pairs` exactly once per corpus fingerprint; the build
    # is deterministic, so the stored table is row-equal to re-deriving)
    from whale_sightings_spark.plans.cluster_store import stored_text_pairs

    return stored_text_pairs(spark, sf_dir).select("doc_a", "doc_b", "hamming")


# ---------------------------------------------------------------------------
# q17 — brute-force cosine top-k ANN (exactness baseline)
# ---------------------------------------------------------------------------

@register(
    "q17_ann_bruteforce",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) AS cos
        FROM embeddings c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q17_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.ann_bruteforce_topk(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q18 — IVF-style probe ANN (label = coarse cell)
# ---------------------------------------------------------------------------

@register(
    "q18_ann_ivf",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec, label AS cell
        FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, q.cell, c.vec_id AS neighbor_id,
               round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) AS cos
        FROM embeddings c JOIN q ON c.label = q.cell
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, cell, neighbor_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q18_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.ann_ivf_topk(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q116 — ANN index-quality audit: recall@k of the IVF probe vs exact top-k
# ---------------------------------------------------------------------------
# (numbered to fill the q115-q117 gap in the curation block; lives here
# with the other similarity queries it composes)

@register(
    "q116_ann_recall",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec, label AS qcell
        FROM embeddings WHERE vec_id < 5
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) DESC,
                                c.vec_id
                   ) AS rank
            FROM embeddings c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= 5
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) DESC,
                                c.vec_id
                   ) AS rank
            FROM embeddings c JOIN q ON c.label = q.qcell
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= 5
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / 5, 6) AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def q116_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the one-cell IVF probe against brute-force ground
    truth — the quantizer-quality gate a production index build runs on
    a sampled query set (operators/similarity.ann_recall)."""
    return SIM.ann_recall(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q122 — multi-probe IVF ANN: probe the 2 nearest cells by centroid
# distance (the production recall knob q116 measures the need for)
# ---------------------------------------------------------------------------

_CENTROIDS_SQL = """
    cents AS (
        SELECT label AS cell, list(avgv ORDER BY dim) AS centroid
        FROM (
            SELECT label, d.i AS dim,
                   round(avg(CAST(embedding[d.i] AS DOUBLE)), 6) AS avgv
            FROM embeddings,
                 LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) d
            GROUP BY label, d.i
        )
        GROUP BY label
    )
"""


@register(
    "q122_ann_multiprobe",
    f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < 5
    ),
    {_CENTROIDS_SQL},
    probes AS (
        SELECT query_id, qvec, cell FROM (
            SELECT q.query_id, q.qvec, c.cell,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.centroid')}, 6) DESC,
                                c.cell
                   ) AS probe_rank
            FROM q CROSS JOIN cents c
        ) WHERE probe_rank <= 2
    ),
    scored AS (
        SELECT p.query_id, p.cell, c.vec_id AS neighbor_id,
               round({SIM.cosine_sql('p.qvec', 'c.embedding')}, 6) AS cos
        FROM embeddings c JOIN probes p ON c.label = p.cell
        WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, cell, neighbor_id, cos,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q122_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the 2 nearest cells per query instead of only the query's
    own cell (operators/similarity.ann_multiprobe_topk) — same output
    shape as q18, strictly higher recall."""
    return SIM.ann_multiprobe_topk(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q127 — product-quantization encoding (the RAM-resident code layout of
# billion-vector ANN indexes; operators/similarity.pq_encode)
# ---------------------------------------------------------------------------

#: q127's full oracle SQL, shared with the q137 ADC-search oracle
_PQ_ENCODE_SQL = f"""
    WITH sub AS (
        SELECT vec_id, s.i AS s,
               list_transform(range(1, {SIM.PQ_DSUB} + 1),
                   j -> CAST(embedding[(s.i) * {SIM.PQ_DSUB} + j] AS DOUBLE))
                   AS subvec
        FROM embeddings,
             LATERAL (SELECT unnest(range(0, {SIM.PQ_M})) AS i) s
    ),
    {SIM.pq_codebook_ctes()},
    d AS (
        SELECT a.vec_id, a.s, c.cid,
               list_sum(list_transform(list_zip(a.subvec, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM sub a JOIN cb c ON c.s = a.s
    ),
    best AS (
        SELECT vec_id, s, cid, d2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
            FROM d
        ) WHERE rn = 1
    )
    SELECT vec_id,
           list(cid ORDER BY s) AS codes,
           round(sqrt(sum(d2)), 6) AS recon
    FROM best
    GROUP BY vec_id
    """


@register(
    "q127_pq_encode",
    # the driver's pandas canonicalizer cannot hash list values, so the
    # final projection renders codes as a delimited string on BOTH
    # engines; internal consumers (q137 ADC) keep the array form
    f"SELECT vec_id, array_to_string(codes, ',') AS codes, recon"
    f" FROM ({_PQ_ENCODE_SQL})",
)
def q127_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: served from the stored plain-PQ code table — no Lloyd
    # training, no encode pass (build is deterministic; q155/q172 stay
    # the inline build/audit queries)
    _pqcb, pq_codes = SIM.read_pq_index(spark, _ivfpq_index_dir(spark, sf_dir))
    enc = SIM.pq_encode(
        load_table(spark, sf_dir, "embeddings"),
        best=pq_codes.select("vec_id", "s", "cid", "d2"),
    )
    return enc.withColumn(
        "codes", F.array_join(F.col("codes").cast("array<string>"), ",")
    )


# ---------------------------------------------------------------------------
# q137 — ADC (asymmetric-distance) top-k over the q127 PQ codes: the
# production PQ query path — corpus touched only through its codes,
# query kept full-precision via a per-query distance lookup table
# (operators/similarity.pq_adc_topk)
# ---------------------------------------------------------------------------

_SUBVEC = (
    f"list_transform(range(1, {SIM.PQ_DSUB} + 1), "
    f"j -> CAST(embedding[(s.i) * {SIM.PQ_DSUB} + j] AS DOUBLE))"
)


@register(
    "q137_pq_adc_search",
    f"""
    WITH enc AS (
        SELECT vec_id, codes FROM ({_PQ_ENCODE_SQL})
    ),
    codesx AS (
        SELECT vec_id, p.i - 1 AS s, codes[p.i] AS cid
        FROM enc, LATERAL (SELECT unnest(range(1, {SIM.PQ_M} + 1)) AS i) p
    ),
    sub AS (
        SELECT vec_id, s.i AS s, {_SUBVEC} AS subvec
        FROM embeddings,
             LATERAL (SELECT unnest(range(0, {SIM.PQ_M})) AS i) s
    ),
    qsub AS (
        SELECT vec_id AS query_id, s, subvec AS qsub
        FROM sub WHERE vec_id < 5
    ),
    {SIM.pq_codebook_ctes()},
    lut AS (
        SELECT q.query_id, q.s, c.cid,
               list_sum(list_transform(list_zip(q.qsub, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2q
        FROM qsub q JOIN cb c ON c.s = q.s
    ),
    scored AS (
        SELECT l.query_id, x.vec_id AS neighbor_id,
               round(sum(l.d2q), 6) AS adc_d2
        FROM codesx x JOIN lut l ON l.s = x.s AND l.cid = x.cid
        GROUP BY l.query_id, x.vec_id
        HAVING l.query_id <> x.vec_id
    )
    SELECT query_id, neighbor_id, adc_d2,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q137_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: codebook + code table served from the stored artifact
    pqcb, pq_codes = SIM.read_pq_index(spark, _ivfpq_index_dir(spark, sf_dir))
    return SIM.pq_adc_topk(
        load_table(spark, sf_dir, "embeddings"), cb=pqcb, codes=pq_codes
    )


# ---------------------------------------------------------------------------
# q153/q154 — IVF+ADC: the composed billion-scale serving path (probe
# the 2 nearest cells, rank candidates by asymmetric PQ distance) and
# its recall@k audit vs exact top-k, quantifying the TOTAL loss of
# cell pruning + PQ compression together
# (operators/similarity.ivf_adc_topk / ivf_adc_recall)
# ---------------------------------------------------------------------------

#: shared CTE chain: sub-vectors, trained codebook, full-corpus codes,
#: probe selection, and the per-query ADC lookup table
_IVF_ADC_CTES = f"""
    sub AS (
        SELECT vec_id, s.i AS s, {_SUBVEC} AS subvec
        FROM embeddings,
             LATERAL (SELECT unnest(range(0, {SIM.PQ_M})) AS i) s
    ),
    {SIM.pq_codebook_ctes()},
    dist AS (
        SELECT a.vec_id, a.s, c.cid,
               list_sum(list_transform(list_zip(a.subvec, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM sub a JOIN cb c ON c.s = a.s
    ),
    enc AS (
        SELECT vec_id, s, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    {_CENTROIDS_SQL},
    q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < 5
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT q.query_id, c.cell,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.centroid')}, 6) DESC,
                                c.cell
                   ) AS probe_rank
            FROM q CROSS JOIN cents c
        ) WHERE probe_rank <= 2
    ),
    lut AS (
        SELECT u.vec_id AS query_id, u.s, c.cid,
               list_sum(list_transform(list_zip(u.subvec, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2q
        FROM sub u JOIN cb c ON c.s = u.s
        WHERE u.vec_id < 5
    ),
    adc AS (
        SELECT p.query_id, m.label AS cell, e.vec_id AS neighbor_id,
               round(sum(l.d2q), 6) AS adc_d2
        FROM enc e
        JOIN embeddings m ON m.vec_id = e.vec_id
        JOIN probes p ON p.cell = m.label
        JOIN lut l ON l.query_id = p.query_id AND l.s = e.s AND l.cid = e.cid
        WHERE e.vec_id <> p.query_id
        GROUP BY p.query_id, m.label, e.vec_id
    ),
    adc_topk AS (
        SELECT query_id, cell, neighbor_id, adc_d2,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY adc_d2, neighbor_id
               ) AS INT) AS rank
        FROM adc
        QUALIFY rank <= 5
    )"""


@register(
    "q153_ivf_adc_search",
    f"""
    WITH {_IVF_ADC_CTES}
    SELECT query_id, cell, neighbor_id, adc_d2, rank FROM adc_topk
    """,
)
def q153_ivf_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: codebook + label-cell code table off the stored artifact
    # round 13: probe selection off the stored coarse centroids too —
    # the only remaining corpus-scale leg was re-aggregating them
    idx = _ivfpq_index_dir(spark, sf_dir)
    pqcb, pq_codes = SIM.read_pq_index(spark, idx)
    return SIM.ivf_adc_topk(
        load_table(spark, sf_dir, "embeddings"),
        cb=pqcb,
        cell_codes=pq_codes,
        cents=SIM.read_label_centroids(spark, idx),
    )


@register(
    "q154_ivf_adc_recall",
    f"""
    WITH {_IVF_ADC_CTES},
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) DESC,
                                c.vec_id
                   ) AS rank
            FROM embeddings c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= 5
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / 5, 6) AS recall
    FROM exact e
    LEFT JOIN adc_topk a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def q154_ivf_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = _ivfpq_index_dir(spark, sf_dir)
    pqcb, pq_codes = SIM.read_pq_index(spark, idx)
    return SIM.ivf_adc_recall(
        load_table(spark, sf_dir, "embeddings"),
        cb=pqcb,
        cell_codes=pq_codes,
        cents=SIM.read_label_centroids(spark, idx),
    )


# ---------------------------------------------------------------------------
# q155/q156 — TRAINED coarse quantizer: the label-as-cell IVF variants
# stand in for a k-means quantizer; these make it real. q155 is the
# index-build report over the trained cells (balance + distortion);
# q156 is q116's recall audit with the trained quantizer substituted,
# quantifying what training buys.
# (operators/similarity.ivf_trained_cell_stats / ivf_trained_recall)
# ---------------------------------------------------------------------------

#: shared CTE chain: full-dim sub-vectors, trained coarse codebook,
#: per-vector cell assignment (L2, d2-then-cid tie-break)
_IVF_TRAINED_CTES = f"""
    sub AS (
        SELECT vec_id, 0 AS s,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS subvec
        FROM embeddings
    ),
    {SIM.pq_codebook_ctes(k=SIM.IVF_K, rounds=SIM.IVF_KMEANS_ROUNDS,
                          train_mod=SIM.IVF_TRAIN_MOD, dsub=SIM.EMBEDDING_DIM)},
    cdist AS (
        SELECT t.vec_id, c.cid,
               list_sum(list_transform(list_zip(t.subvec, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM sub t JOIN cb c ON c.s = t.s
    ),
    assign AS (
        SELECT vec_id, cid AS cell, d2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM cdist
        ) WHERE rn = 1
    )"""


@register(
    "q155_ivf_trained_cells",
    f"""
    WITH {_IVF_TRAINED_CTES}
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_members,
           min(vec_id) AS min_member,
           max(vec_id) AS max_member,
           round(avg(round(d2, 6)), 4) AS avg_d2
    FROM assign
    GROUP BY cell
    """,
)
def q155_ivf_trained_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.ivf_trained_cell_stats(load_table(spark, sf_dir, "embeddings"))


@register(
    "q156_ivf_trained_recall",
    f"""
    WITH {_IVF_TRAINED_CTES},
    q AS (
        SELECT a.vec_id AS query_id, e.embedding AS qvec, a.cell AS qcell
        FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id < 5
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) DESC,
                                c.vec_id
                   ) AS rank
            FROM embeddings c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= 5
    ),
    approx AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) DESC,
                                c.vec_id
                   ) AS rank
            FROM embeddings c
            JOIN assign ac ON ac.vec_id = c.vec_id
            JOIN q ON ac.cell = q.qcell
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= 5
    )
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / 5, 6) AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
)
def q156_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: trained-cell assignment read off the stored code table
    assign = SIM.trained_assign_from_index(spark, _ivfpq_index_dir(spark, sf_dir))
    return SIM.ivf_trained_recall(
        load_table(spark, sf_dir, "embeddings"), assign=assign
    )


# ---------------------------------------------------------------------------
# q157 — residual PQ encode (IVF-PQ proper): PQ codes over the residual
# vector - assigned trained coarse centroid, the storage layout a
# billion-vector index actually writes; residuals concentrate near the
# origin so the same code budget reconstructs tighter than raw-vector
# PQ (operators/similarity.pq_residual_encode + recon pytest)
# ---------------------------------------------------------------------------


#: shared residual-PQ index chain (coarse cells -> residuals ->
#: residual codebook -> per-subspace residual codes), used by the q157
#: encode and the q161 serving path
_RESIDUAL_PQ_CTES = f"""{_IVF_TRAINED_CTES},
    resid AS (
        SELECT a.vec_id, a.cell,
               list_transform(list_zip(s.subvec, c.cvec),
                   p -> p[1] - p[2]) AS rvec
        FROM assign a
        JOIN sub s ON s.vec_id = a.vec_id
        JOIN cb c ON c.cid = a.cell AND c.s = 0
    ),
    rsub AS (
        SELECT vec_id, s.i AS s,
               list_transform(range(1, {SIM.PQ_DSUB} + 1),
                   j -> rvec[(s.i) * {SIM.PQ_DSUB} + j]) AS subvec
        FROM resid,
             LATERAL (SELECT unnest(range(0, {SIM.PQ_M})) AS i) s
    ),
    {SIM.pq_codebook_ctes(prefix='r', src='rsub')},
    rdist AS (
        SELECT a.vec_id, a.s, c.cid,
               list_sum(list_transform(list_zip(a.subvec, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM rsub a JOIN rcb c ON c.s = a.s
    ),
    rbest AS (
        SELECT vec_id, s, cid, d2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
            FROM rdist
        ) WHERE rn = 1
    )"""


@register(
    "q157_residual_pq_encode",
    f"""
    WITH {_RESIDUAL_PQ_CTES}
    SELECT b.vec_id, r.cell,
           array_to_string(list(b.cid ORDER BY b.s), ',') AS codes,
           round(sqrt(sum(b.d2)), 6) AS recon
    FROM rbest b
    JOIN (SELECT DISTINCT vec_id, cell FROM resid) r ON r.vec_id = b.vec_id
    GROUP BY b.vec_id, r.cell
    """,
)
def q157_residual_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served from the persisted q172 artifact (build-if-absent): both
    # codebooks are deterministic over the same corpus, so the encode
    # rows equal the inline ``pq_residual_encode`` exactly — the oracle
    # (which retrains in DuckDB) is unchanged and still anchors the
    # training itself.
    return SIM.ivfpq_encode_from_index(
        spark,
        load_table(spark, sf_dir, "embeddings"),
        _ivfpq_index_dir(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# q161 — the complete IVF-PQ serving path (FAISS IndexIVFPQ query):
# probe the 2 nearest coarse cells by L2, re-center the query's
# residual against EACH probed cell's centroid (corpus codes in a cell
# encode residuals to that centroid, so the LUT must too), rank
# candidates by ADC over residual codes
# (operators/similarity.ivfpq_topk)
# ---------------------------------------------------------------------------


#: the complete IVF-PQ query oracle — shared by q161 (inline retrain)
#: and q173 (served from the persisted index): the build is
#: deterministic, so the stored-artifact path must produce byte-equal
#: results to the inline one
_IVFPQ_SEARCH_ORACLE = f"""
    WITH {_RESIDUAL_PQ_CTES},
    probes AS (
        SELECT query_id, cell FROM (
            SELECT vec_id AS query_id, cid AS cell,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY d2, cid) AS pr
            FROM cdist WHERE vec_id < 5
        ) WHERE pr <= 2
    ),
    qres AS (
        SELECT p.query_id, p.cell,
               list_transform(list_zip(s.subvec, c.cvec),
                   x -> x[1] - x[2]) AS qrvec
        FROM probes p
        JOIN sub s ON s.vec_id = p.query_id
        JOIN cb c ON c.cid = p.cell AND c.s = 0
    ),
    qrsub AS (
        SELECT query_id, cell, s.i AS s,
               list_transform(range(1, {SIM.PQ_DSUB} + 1),
                   j -> qrvec[(s.i) * {SIM.PQ_DSUB} + j]) AS qsub
        FROM qres,
             LATERAL (SELECT unnest(range(0, {SIM.PQ_M})) AS i) s
    ),
    lut AS (
        SELECT q.query_id, q.cell, q.s, c.cid,
               list_sum(list_transform(list_zip(q.qsub, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2q
        FROM qrsub q JOIN rcb c ON c.s = q.s
    ),
    ccodes AS (
        SELECT b.vec_id, r.cell, b.s, b.cid
        FROM rbest b
        JOIN (SELECT DISTINCT vec_id, cell FROM resid) r
          ON r.vec_id = b.vec_id
    ),
    scored AS (
        SELECT l.query_id, x.cell, x.vec_id AS neighbor_id,
               round(sum(l.d2q), 6) AS adc_d2
        FROM ccodes x
        JOIN lut l ON l.cell = x.cell AND l.s = x.s AND l.cid = x.cid
        WHERE x.vec_id <> l.query_id
        GROUP BY 1, 2, 3
    )
    SELECT query_id, cell, neighbor_id, adc_d2,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY adc_d2, neighbor_id
           ) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """


@register("q161_ivfpq_search", _IVFPQ_SEARCH_ORACLE)
def q161_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: the legacy inline entry point now resolves to the stored
    # trained index — identical results (training is deterministic;
    # q172 remains the build query, `SIM.ivfpq_topk` the inline twin
    # exercised by the build + tests/test_similarity.py)
    return SIM.ivfpq_topk_from_index(
        spark,
        load_table(spark, sf_dir, "embeddings"),
        _ivfpq_index_dir(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# q165 — probe-budget tuning curve: recall@5 vs number of probed
# trained cells (1/2/4) — the table that prices the IVF recall knob
# before committing a serving configuration
# (operators/similarity.ann_trained_probe_curve)
# ---------------------------------------------------------------------------


@register(
    "q165_probe_recall_curve",
    f"""
    WITH {_IVF_TRAINED_CTES},
    pranked AS (
        SELECT vec_id AS query_id, cid AS cell,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY d2, cid) AS pr
        FROM cdist WHERE vec_id < 5
    ),
    probes AS (
        SELECT b.np AS n_probe, p.query_id, p.cell
        FROM pranked p, LATERAL (
            SELECT unnest([{", ".join(str(b) for b in SIM.PROBE_BUDGETS)}]) AS np
        ) b
        WHERE p.pr <= b.np
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qvec
        FROM embeddings WHERE vec_id < 5
    ),
    approx AS (
        SELECT n_probe, query_id, neighbor_id FROM (
            SELECT p.n_probe, p.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY p.n_probe, p.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) DESC,
                                c.vec_id
                   ) AS rank
            FROM embeddings c
            JOIN assign a ON a.vec_id = c.vec_id
            JOIN probes p ON p.cell = a.cell
            JOIN q ON q.query_id = p.query_id
            WHERE c.vec_id <> p.query_id
        ) WHERE rank <= 5
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round({SIM.cosine_sql('q.qvec', 'c.embedding')}, 6) DESC,
                                c.vec_id
                   ) AS rank
            FROM embeddings c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ) WHERE rank <= 5
    ),
    per_q AS (
        SELECT b.np AS n_probe, e.query_id,
               CAST(count(a.neighbor_id) AS DOUBLE) / 5 AS recall
        FROM exact e
        CROSS JOIN (
            SELECT unnest([{", ".join(str(b) for b in SIM.PROBE_BUDGETS)}]) AS np
        ) b
        LEFT JOIN approx a
          ON a.n_probe = b.np AND a.query_id = e.query_id
         AND a.neighbor_id = e.neighbor_id
        GROUP BY 1, 2
    )
    SELECT CAST(n_probe AS INT) AS n_probe,
           round(avg(recall), 6) AS avg_recall,
           round(min(recall), 6) AS min_recall
    FROM per_q
    GROUP BY n_probe
    """,
)
def q165_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: coarse codebook + assignment off the stored index — the
    # tuning curve prices probe budgets against the SERVING artifact
    idx = _ivfpq_index_dir(spark, sf_dir)
    coarse, _rcb, _codes = SIM.read_ivfpq_index(spark, idx)
    return SIM.ann_trained_probe_curve(
        load_table(spark, sf_dir, "embeddings"),
        cb=coarse,
        assign=SIM.trained_assign_from_index(spark, idx),
    )


# ---------------------------------------------------------------------------
# q160 — incremental index ingest + drift audit: NEW vectors (vec_id >=
# split) assigned to cells trained on HISTORY only — the O(batch)
# ingest path of a serving index — with a per-cell PSI term comparing
# the batch's cell distribution to history's (the retrain trigger)
# (operators/similarity.ivf_incremental_ingest_audit)
# ---------------------------------------------------------------------------

_IVF_SPLIT = 400


@register(
    "q160_ivf_ingest_drift",
    f"""
    WITH sub AS (
        SELECT vec_id, 0 AS s,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS subvec
        FROM embeddings
    ),
    hsub AS (SELECT * FROM sub WHERE vec_id < {_IVF_SPLIT}),
    {SIM.pq_codebook_ctes(k=SIM.IVF_K, rounds=SIM.IVF_KMEANS_ROUNDS,
                          train_mod=SIM.IVF_TRAIN_MOD, dsub=SIM.EMBEDDING_DIM,
                          src='hsub')},
    cdist AS (
        SELECT t.vec_id, c.cid,
               list_sum(list_transform(list_zip(t.subvec, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM sub t JOIN cb c ON c.s = t.s
    ),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM cdist
        ) WHERE rn = 1
    ),
    counts AS (
        SELECT cell,
               CAST(sum(CASE WHEN vec_id < {_IVF_SPLIT} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hist,
               CAST(sum(CASE WHEN vec_id >= {_IVF_SPLIT} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new
        FROM assign GROUP BY cell
    ),
    tot AS (SELECT greatest(sum(n_hist), 1) AS th,
                   greatest(sum(n_new), 1) AS tn FROM counts)
    SELECT cell, n_hist, n_new,
           round(n_hist / th, 6) AS share_hist,
           round(n_new / tn, 6) AS share_new,
           round((greatest(n_new / tn, 0.0001) - greatest(n_hist / th, 0.0001))
                 * ln(greatest(n_new / tn, 0.0001)
                      / greatest(n_hist / th, 0.0001)), 6) AS psi_term
    FROM counts CROSS JOIN tot
    """,
)
def q160_ivf_ingest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.ivf_incremental_ingest_audit(
        load_table(spark, sf_dir, "embeddings"), _IVF_SPLIT
    )


# ---------------------------------------------------------------------------
# q19 — embedding near-dup via hyperplane LSH blocking + cosine verify
# ---------------------------------------------------------------------------

def _emb_neardup_sql_where(where: str = "") -> str:
    """The q19 embedding near-dup SQL, optionally restricted to a
    corpus slice — the q251 prefix-form convention for the embedding
    graph (q255's history side runs it under a WHERE)."""
    w = f"WHERE {where}" if where else ""
    return f"""
    WITH sigs AS (
        SELECT vec_id, {SIM.lsh_signature_sql('embedding')} AS sig
        FROM embeddings {w}
    ),
    banded AS (
        SELECT vec_id, 0 AS bi, sig % {1 << SIM.LSH_BAND_BITS} AS bk FROM sigs
        UNION ALL
        SELECT vec_id, 1 AS bi, sig // {1 << SIM.LSH_BAND_BITS} AS bk FROM sigs
    ),
    kept AS (
        SELECT bi, bk FROM banded GROUP BY bi, bk
        HAVING count(*) > 1 AND count(*) <= {SIM.MAX_SIG_BUCKET}
    ),
    blocked AS (SELECT s.* FROM banded s JOIN kept USING (bi, bk)),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM blocked a JOIN blocked b
          ON a.bi = b.bi AND a.bk = b.bk AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           round({SIM.cosine_sql('ea.embedding', 'eb.embedding')}, 6) AS cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    WHERE round({SIM.cosine_sql('ea.embedding', 'eb.embedding')}, 6) >= {SIM.COSINE_DUP_THRESHOLD}
    """


#: q19's full oracle SQL, shared with the q132 semantic-dedup oracle
_EMB_NEARDUP_SQL = _emb_neardup_sql_where()


@register("q19_embedding_neardup", _EMB_NEARDUP_SQL)
def q19_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 10: served from the persisted embed-cluster artifact's
    # pair table, which keeps the verified cos weight (v5) — the full
    # sign+band+verify pass runs once per corpus fingerprint at build.
    from whale_sightings_spark.plans.cluster_store import (
        stored_embed_pairs,
    )

    return stored_embed_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"), "cos"
    )


# ---------------------------------------------------------------------------
# q20 — text statistics: token counts + quality scoring per document
# ---------------------------------------------------------------------------

@register(
    "q20_text_stats",
    f"""
    SELECT doc_id,
           {TX.token_count_sql('text')} AS n_tokens,
           {TX.regex_token_count_sql('text')} AS n_regex_tokens,
           length(text) AS n_chars_actual,
           {TX.quality_score_sql('text')} AS quality
    FROM documents
    """,
)
def q20_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.regex_token_count(F.col("text")).alias("n_regex_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        TX.quality_score(F.col("text")).alias("quality"),
    )


# ---------------------------------------------------------------------------
# q21 — language-ID heuristic vs the labeled lang column
# ---------------------------------------------------------------------------

@register(
    "q21_lang_id",
    f"""
    SELECT lang, {TX.lang_id_sql('text')} AS predicted, count(*) AS n
    FROM documents
    GROUP BY 1, 2
    """,
)
def q21_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# q22 — document fingerprinting (whole-doc md5 + min-shingle rolling hash)
# ---------------------------------------------------------------------------

@register(
    "q22_fingerprint",
    f"""
    SELECT doc_id,
           {TX.fingerprint_md5_sql('text')} AS fp_md5,
           (CASE WHEN len({_SHINGLES}) > 0
                 THEN list_min(list_transform({_SHINGLES}, s -> {hash60_sql('s')}))
                 ELSE CAST(-1 AS BIGINT) END) AS fp_min_shingle
    FROM documents
    """,
)
def q22_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.hashing import hash60
    from whale_sightings_spark.functions.text import shingles_from_tokens

    docs = load_table(spark, sf_dir, "documents")
    # stage tokens -> shingles -> hashes so each computes once (the
    # min-shingle hash references the shingle array per element)
    staged = (
        docs.select("doc_id", "text", TX.tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            "text",
            shingles_from_tokens(F.col("toks"), DD.SHINGLE_N).alias("shingles"),
        )
        .select("doc_id", "text", F.transform("shingles", hash60).alias("hashed"))
    )
    return staged.select(
        "doc_id",
        TX.fingerprint_md5(F.col("text")).alias("fp_md5"),
        F.when(F.size("hashed") > 0, F.array_min("hashed"))
        .otherwise(F.lit(-1).cast("bigint"))
        .alias("fp_min_shingle"),
    )


# ---------------------------------------------------------------------------
# q28 — broadcast point-in-polygon spatial join (J1/S10; reference
# cleaner.py:194-212 gpd.sjoin + waterBody overwrite). Points fabricated
# from customer keys at half-degree offsets (never on a polygon edge);
# rectangle fixtures make the oracle exact BETWEEN arithmetic while the
# Spark side runs the real ray-casting pandas-UDF operator. The first
# two rectangles overlap, exercising the first-polygon-wins policy.
# ---------------------------------------------------------------------------

_SPATIAL_RECTS: list[tuple[str, float, float, float, float]] = [
    # (name, lon_min, lat_min, lon_max, lat_max) — first match wins
    ("north_atlantic", -80.0, 0.0, 0.0, 60.0),
    ("wide_band", -100.0, -20.0, 20.0, 40.0),
    ("indian", 40.0, -40.0, 120.0, 20.0),
    ("arctic", -180.0, 60.0, 180.0, 85.0),
]

_SPATIAL_CASE = "CASE " + " ".join(
    f"WHEN lon BETWEEN {x1} AND {x2} AND lat BETWEEN {y1} AND {y2} THEN '{nm}'"
    for nm, x1, y1, x2, y2 in _SPATIAL_RECTS
) + " ELSE NULL END"


@register(
    "q28_spatial_join",
    f"""
    WITH pts AS (
        SELECT c_custkey AS id,
               CAST((c_custkey * 7) % 360 - 180 AS DOUBLE) + 0.5 AS lon,
               CAST((c_custkey * 13) % 160 - 80 AS DOUBLE) + 0.5 AS lat
        FROM customer
    )
    SELECT {_SPATIAL_CASE} AS waterBody,
           count(*) AS n, min(id) AS min_id, max(id) AS max_id
    FROM pts
    GROUP BY 1
    """,
)
def q28_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.operators.spatial import (
        parse_wkt_polygon,
        spatial_join_water_body,
    )

    def rect_wkt(x1: float, y1: float, x2: float, y2: float) -> str:
        return (
            f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, {x1} {y2}, {x1} {y1}))"
        )

    # literal rectangles: hand the driver-side rings straight to the
    # operator (the S10 DataFrame form is exercised by the pipeline
    # tests) — skips a createDataFrame -> collect bounce per call
    oceans = [
        (nm, parse_wkt_polygon(rect_wkt(x1, y1, x2, y2)))
        for nm, x1, y1, x2, y2 in _SPATIAL_RECTS
    ]
    customer = load_table(spark, sf_dir, "customer")
    pts = customer.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 7) % 360 - 180).cast("double") + 0.5).alias("lon"),
        (((F.col("c_custkey") * 13) % 160 - 80).cast("double") + 0.5).alias("lat"),
    )
    joined = spatial_join_water_body(pts, oceans, lon_col="lon", lat_col="lat")
    return joined.groupBy("waterBody").agg(
        F.count("*").alias("n"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# q29 — dedup cluster assignment: fixed-k min-label propagation over the
# SimHash near-dup pair graph (the completion step: pairs -> clusters ->
# one survivor per cluster). k rounds of join+min over the EDGE set only;
# the oracle runs the identical rounds as chained CTEs.
# ---------------------------------------------------------------------------

def _label_prop_ctes(pairs_sql: str, iterations: int) -> str:
    """The WITH-chain up to ``l{iterations}`` (doc_id, label) — shared
    by the q29 component rollup and the q126 leakage-safe split."""
    # strip the leading WITH so the pair query's CTEs merge into ours
    body = pairs_sql.strip()
    assert body.upper().startswith("WITH")
    sql = body[4:].rsplit("SELECT", 1)
    # re-wrap: pairs CTE = the final SELECT of the pair query
    final_select = "SELECT" + sql[1]
    out = f"WITH {sql[0]}, pairs AS ({final_select}),\n"
    out += """
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM edges)
    """
    for k in range(1, iterations + 1):
        out += f"""
    , l{k} AS (
        SELECT l.doc_id,
               least(l.label, coalesce(min(n.label), l.label)) AS label
        FROM l{k-1} l
        LEFT JOIN edges e ON e.src = l.doc_id
        LEFT JOIN l{k-1} n ON n.doc_id = e.dst
        GROUP BY l.doc_id, l.label
    )"""
    return out


def _converged_labels_chain(pairs_sql: str, prefix: str = "") -> str:
    """Transitive-closure CTE chain (no leading WITH) ending in
    ``{prefix}labels(doc_id, label)`` — label = min doc_id of the TRUE
    component; the oracle twin of the persisted cluster artifact
    (`dedup.build_cluster_artifact`). Prefixed so q243 can run the
    history and full chains in one statement."""
    body = pairs_sql.strip()
    assert body.upper().startswith("WITH")
    head, final = body[4:].rsplit("SELECT", 1)
    p = prefix
    return f"""{head}, {p}pairs AS (SELECT {final}),
    {p}edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM {p}pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM {p}pairs
    ),
    {p}reach(v, l) AS (
        SELECT DISTINCT src, src FROM {p}edges
        UNION
        SELECT e.src, r.l FROM {p}edges e JOIN {p}reach r ON r.v = e.dst
    ),
    {p}labels AS (
        SELECT v AS doc_id, min(l) AS label FROM {p}reach GROUP BY v
    )"""


def _converged_labels_ctes(pairs_sql: str) -> str:
    """WITH RECURSIVE + :func:`_converged_labels_chain` — the one-chain
    form every store-served cluster consumer (q100/q126/q132/q186)
    opens its oracle with."""
    return "WITH RECURSIVE " + _converged_labels_chain(pairs_sql)


def _label_prop_sql(pairs_sql: str, iterations: int) -> str:
    return (
        _label_prop_ctes(pairs_sql, iterations)
        + f"""
    SELECT label AS component, count(*) AS n_docs, min(doc_id) AS rep
    FROM l{iterations}
    GROUP BY 1
    """
    )


@register(
    "q29_dedup_components",
    _label_prop_sql(_SIMHASH_PAIRS_SQL, DD.COMPONENT_ITERATIONS),
)
def q29_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import stored_text_pairs

    pairs = stored_text_pairs(spark, sf_dir)
    labels = DD.dedup_components(pairs)
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("rep")
    )


# ---------------------------------------------------------------------------
# q132 — semantic dedup (SemDeDup shape): embedding near-dup pairs
# (q19) -> connected components (q29's fixed-k propagation) -> one
# survivor per cluster (min vec_id) -> per-cell dedup-pressure audit
# (how much of each IVF cell the semantic screen removes). Same stage
# shapes as its parts: LSH banding join over the corpus, edge-set-sized
# propagation, survivors/drops are component-table-sized and join back
# to the corpus by vec_id — one keyed join, then a cell-sized agg.
# ---------------------------------------------------------------------------

def _q132_oracle() -> str:
    pairs_sql = (
        f"WITH P AS ({_EMB_NEARDUP_SQL})\n"
        "    SELECT vec_a AS doc_a, vec_b AS doc_b FROM P"
    )
    return (
        _converged_labels_ctes(pairs_sql)
        + """
    , surv AS (
        SELECT label, min(doc_id) AS survivor FROM labels GROUP BY label
    ),
    dropped AS (
        SELECT l.doc_id FROM labels l
        JOIN surv s ON s.label = l.label
        WHERE l.doc_id <> s.survivor
    )
    SELECT e.label AS cell,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(d.doc_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.doc_id) AS BIGINT) AS n_kept,
           round(CAST(count(d.doc_id) AS DOUBLE) / count(*), 6) AS drop_share
    FROM embeddings e
    LEFT JOIN dropped d ON d.doc_id = e.vec_id
    GROUP BY e.label
    """
    )


@register("q132_semantic_dedup", _q132_oracle())
def q132_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 8: converged embedding-cluster labels off the persisted
    # artifact (pair generation + propagation happen once, at build)
    from whale_sightings_spark.plans.cluster_store import embed_cluster_dir

    emb = load_table(spark, sf_dir, "embeddings")
    labels = DD.stored_cluster_labels(spark, embed_cluster_dir(spark, sf_dir))
    surv = labels.groupBy("label").agg(F.min("doc_id").alias("survivor"))
    dropped = (
        labels.join(surv, "label")
        .filter(F.col("doc_id") != F.col("survivor"))
        .select(F.col("doc_id").alias("vec_id"), F.lit(1).alias("is_dropped"))
    )
    return (
        emb.join(dropped, "vec_id", "left")
        .groupBy(F.col("label").alias("cell"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.coalesce("is_dropped", F.lit(0))).alias("n_dropped"),
            (F.count("*") - F.sum(F.coalesce("is_dropped", F.lit(0)))).alias("n_kept"),
            F.round(
                F.sum(F.coalesce("is_dropped", F.lit(0))) / F.count("*"), 6
            ).alias("drop_share"),
        )
    )


# ---------------------------------------------------------------------------
# q126 — leakage-safe train/val/test split: q90's deterministic hash
# split keyed by the near-dup CLUSTER instead of the document, so every
# member of a near-dup cluster lands in the same split — the guard that
# keeps eval sets from leaking into training via near-duplicates that
# doc-keyed splitting cannot provide. Cluster labels are the TRUE
# converged components read off the persisted cluster artifact (round
# 8 — fixed-k propagation could leak a >k-diameter chain across
# splits); docs in no pair are their own singleton cluster
# (coalesce(label, doc_id)). The label table is edge-set-sized and
# joins onto the corpus by doc_id (one keyed shuffle); the split
# decision is then row-local. Invariant
# (asserted in tests/test_similarity.py): no cluster spans splits —
# true by construction since split = f(cluster).
# ---------------------------------------------------------------------------

def _q126_oracle() -> str:
    from whale_sightings_spark.plans.queries_quality import (
        SPLIT_TRAIN_UPTO,
        SPLIT_VAL_UPTO,
    )

    key = hash60_sql("CAST(cluster AS VARCHAR) || ':csplit'")
    return (
        _converged_labels_ctes(_SIMHASH_PAIRS_SQL)
        + f"""
    , clusters AS (
        SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    ),
    s AS (
        SELECT doc_id, cluster,
               CASE WHEN ({key}) % 100 < {SPLIT_TRAIN_UPTO} THEN 'train'
                    WHEN ({key}) % 100 < {SPLIT_VAL_UPTO} THEN 'val'
                    ELSE 'test' END AS split
        FROM clusters
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM s
    GROUP BY split
    """
    )


@register("q126_leakage_safe_split", _q126_oracle())
def q126_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.hashing import hash60
    from whale_sightings_spark.plans.queries_quality import (
        SPLIT_TRAIN_UPTO,
        SPLIT_VAL_UPTO,
    )

    # round 8: the cluster labels come off the PERSISTED artifact —
    # true converged components (the fixed-k propagation could leak a
    # >k-diameter chain across splits; leakage-safety wants the real
    # transitive closure), no propagation loop in the serving DAG.
    from whale_sightings_spark.plans.cluster_store import text_cluster_dir

    docs = load_table(spark, sf_dir, "documents")
    labels = DD.stored_cluster_labels(spark, text_cluster_dir(spark, sf_dir))
    clusters = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster")
        )
    )
    bucket = hash60(
        F.concat(F.col("cluster").cast("string"), F.lit(":csplit"))
    ) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_UPTO, "train")
        .when(bucket < SPLIT_VAL_UPTO, "val")
        .otherwise("test")
    )
    return clusters.withColumn("split", split).groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("cluster").alias("n_clusters"),
        F.sum("doc_id").alias("sum_ids"),
    )


# ---------------------------------------------------------------------------
# q30 — corpus vocabulary: global top-k tokens by frequency. Classic
# wordcount (map-side partial agg) + distributed TakeOrdered top-k — no
# single-partition window at any scale.
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 25


@register(
    "q30_vocab_topk",
    f"""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest({TX.tokens_sql('text')}) AS tok FROM documents)
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT {VOCAB_TOP_K}
    """,
)
def q30_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 9): the corpus wordcount is the LM
    # store's vocab-bounded uni aggregate (partials summed at read) —
    # no tokenize, no corpus scan; top-k stays a TakeOrdered.
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    return (
        LM.stored_uni(spark, art)
        .orderBy(F.desc("n"), "tok")
        .limit(VOCAB_TOP_K)
    )


# ---------------------------------------------------------------------------
# q128 — vocabulary coverage curve: cumulative share of all token
# occurrences covered by the top-K vocabulary, per rank — the
# tokenizer-sizing audit that pairs with q121's OOV rate (how much of
# the corpus does a K-entry vocab actually buy?). Shapes: one token
# agg (the q30 shuffle), top-K via TakeOrdered; the cumulative sum
# runs inside ONE scalar collect of the K-row list (array_sort +
# posexplode + row-local prefix fold) — a running total WITHOUT a
# single-partition window; the corpus-wide denominator is a broadcast
# scalar agg.
# ---------------------------------------------------------------------------

@register(
    "q128_vocab_coverage",
    f"""
    WITH t AS (
        SELECT unnest({TX.tokens_sql('text')}) AS tok FROM documents
    ),
    f AS (
        SELECT tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY tok
    ),
    v AS (
        SELECT tok, n FROM f ORDER BY n DESC, tok LIMIT {VOCAB_TOP_K}
    ),
    tot AS (SELECT sum(n) AS n_total FROM f)
    SELECT CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank,
           tok, n,
           round(CAST(sum(n) OVER (ORDER BY n DESC, tok
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / tot.n_total, 6) AS cum_share
    FROM v CROSS JOIN tot
    """,
)
def q128_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 9): the q30 wordcount comes off the
    # LM store's uni aggregate; both the top-K list and the corpus-wide
    # denominator are vocab-bounded reads, never a tokenize.
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    f = LM.stored_uni(spark, art)
    top = f.orderBy(F.desc("n"), "tok").limit(VOCAB_TOP_K)
    tot = f.agg(F.sum("n").alias("n_total"))
    # running total over the K-row list: one scalar collect, sorted by
    # (n desc, tok) via the negated count in the sort struct, prefix
    # sums computed row-local from array slices (K^2 adds, K = 25)
    arr = top.agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("n")).alias("nn"), "tok", "n"))
        ).alias("arr")
    )
    exploded = arr.select("arr", F.posexplode("arr").alias("pos", "s"))
    cum = F.aggregate(
        F.slice("arr", 1, F.col("pos") + 1),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x.n,
    )
    return (
        exploded.crossJoin(F.broadcast(tot))
        .select(
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("s.tok").alias("tok"),
            F.col("s.n").alias("n"),
            F.round(cum.cast("double") / F.col("n_total"), 6).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# q31 — skew-safe exact distinct count: value-partitioned two-stage
# aggregation (operators/skew). l_returnflag has 3 hot keys over the
# whole table — the classic distinct-state skew shape. The oracle is the
# plain COUNT(DISTINCT): the salted decomposition is exact by
# construction (value buckets are disjoint).
# ---------------------------------------------------------------------------

@register(
    "q31_salted_distinct",
    """
    SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_distinct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q31_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.operators.skew import salted_count_distinct

    li = load_table(spark, sf_dir, "lineitem")
    return salted_count_distinct(li, ["l_returnflag"], "l_orderkey")


# ---------------------------------------------------------------------------
# q36 — TF-IDF top terms per document. Corpus shape: one explode +
# (doc, tok) count (map-side partial), token document frequencies from
# the same index, idf = ln(N / df) with a broadcast-able token dim, then
# a per-doc window top-k. Shuffles: token index, df counts, final
# (doc)-keyed rank — all keyed, no global ordering anywhere.
# ---------------------------------------------------------------------------

_TFIDF_TOP_K = 3

_TOKENS_LOWER = f"list_transform({TX.tokens_sql('text')}, t -> lower(t))"


@register(
    "q36_tfidf_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_LOWER}) AS tok FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf,
           CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS INT) AS rank
    FROM scored
    QUALIFY rank <= {_TFIDF_TOP_K}
    """,
)
def q36_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # scalar corpus size as a broadcast single-row aggregate — keeps the
    # whole query ONE job (a driver-side .count() here would scan the
    # corpus in a separate job before the real plan even starts)
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    toks = (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode_outer("toks").alias("tok"))
        .select("doc_id", F.lower("tok").alias("tok"))
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    # tf feeds BOTH the df aggregation and the scoring join — each
    # would replay the corpus tokenize + agg
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .transform(barrier)
    )
    df_counts = tf.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(df_counts, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TFIDF_TOP_K)
    )


# ---------------------------------------------------------------------------
# q134 — near-dup detector precision/recall: the SimHash family (q16)
# scored against exact n-gram Jaccard ground truth (q14) — the third
# index-quality audit (q116 covers IVF, q129 the MinHash sketch; this
# one closes the loop on the Hamming-banded detector). Both sides are
# pair-table-sized after their own corpus-scale stages; the scoring
# join and the final scalar agg never touch the corpus. One summary
# row: |truth|, |pred|, |hit|, precision, recall (0-denominator maps
# to NULL via the guard, identical in both engines).
# ---------------------------------------------------------------------------

def _q134_oracle() -> str:
    from whale_sightings_spark.plans.queries import ORACLE_SQL

    return f"""
    WITH truth AS (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["q14_dedup_ngram_jaccard"]})
    ),
    pred AS (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["q16_dedup_simhash"]})
    ),
    j AS (
        SELECT coalesce(t.doc_a, p.doc_a) AS doc_a,
               t.doc_a IS NOT NULL AS in_truth,
               p.doc_a IS NOT NULL AS in_pred
        FROM truth t
        FULL OUTER JOIN pred p ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
    )
    SELECT CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN in_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
           CAST(sum(CASE WHEN in_truth AND in_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(CAST(sum(CASE WHEN in_truth AND in_pred THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN in_pred THEN 1 ELSE 0 END), 0), 6) AS precision,
           round(CAST(sum(CASE WHEN in_truth AND in_pred THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN in_truth THEN 1 ELSE 0 END), 0), 6) AS recall
    FROM j
    """


@register("q134_neardup_precision_recall", _q134_oracle())
def q134_neardup_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 9: the truth side serves from the persisted shingle index
    # (same rows as the inline re-shingle — the build is deterministic),
    # so the audit never re-tokenizes the corpus it is auditing.
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.cluster_store import stored_text_pairs
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    docs = load_table(spark, sf_dir, "documents")
    stored = SHI.capped_postings(
        spark, shingle_artifact_dir(spark, sf_dir), DD.MAX_SHINGLE_DF
    ).select("doc_id", "shingle")
    truth = DD.ngram_jaccard_pairs(docs, pairs=stored).select(
        "doc_a", "doc_b", F.lit(1).alias("in_truth")
    )
    pred = stored_text_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_pred")
    )
    j = truth.join(pred, ["doc_a", "doc_b"], "full")
    hit = F.sum(
        F.when((F.col("in_truth") == 1) & (F.col("in_pred") == 1), 1).otherwise(0)
    )
    n_truth = F.sum(F.when(F.col("in_truth") == 1, 1).otherwise(0))
    n_pred = F.sum(F.when(F.col("in_pred") == 1, 1).otherwise(0))
    return j.agg(
        n_truth.cast("bigint").alias("n_truth"),
        n_pred.cast("bigint").alias("n_pred"),
        hit.cast("bigint").alias("n_hit"),
        F.round(hit.cast("double") / F.nullif(n_pred, F.lit(0)), 6).alias("precision"),
        F.round(hit.cast("double") / F.nullif(n_truth, F.lit(0)), 6).alias("recall"),
    )


# ---------------------------------------------------------------------------
# q139 — cross-source content-overlap matrix: distinct word-3-gram
# shingles each PAIR of sources shares — the provenance audit that
# finds mirrored / scraped-from-each-other sources before mixing
# weights are chosen. (Whole-document fingerprints are too strict: in
# this corpus exact dups never span sources, and at web scale mirrors
# rewrite boilerplate anyway — shingle overlap is the robust signal.)
# The shingle index is df-capped (MAX_SHINGLE_DF, the dedup-family
# guard) so boilerplate cannot dominate; the per-shingle self-join
# expands at most |sources|^2 rows per shingle (source cardinality is
# bounded), and the output matrix is |sources|^2-bounded.
# ---------------------------------------------------------------------------

@register(
    "q139_source_overlap",
    f"""
    WITH sp AS (
        SELECT DISTINCT doc_id, source, shingle
        FROM (SELECT doc_id, source, unnest({_SHINGLES}) AS shingle
              FROM documents)
    ),
    keep AS (
        SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM sp)
        GROUP BY shingle HAVING count(*) <= {DD.MAX_SHINGLE_DF}
    ),
    ss AS (
        SELECT DISTINCT source, sp.shingle
        FROM sp JOIN keep USING (shingle)
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q139_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 8): the distinct (doc_id, source,
    # shingle) postings and the per-shingle df table both come off the
    # persisted shingle index — the df-cap is a vocab-scale filter on
    # the stored aggregate, not a fresh corpus-wide re-count.
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    art = shingle_artifact_dir(spark, sf_dir)
    sp = SHI.stored_postings(spark, art)
    # r12: the cap keeps almost every shingle — drop the tiny HOT set
    # with a broadcast anti-join instead of shuffling the postings
    # against the vocab-scale keep-set (same rows; see capped_postings)
    hot = (
        SHI.stored_df(spark, art)
        .filter(F.col("df") > DD.MAX_SHINGLE_DF)
        .select("shingle")
    )
    ss = (
        sp.join(F.broadcast(hot), "shingle", "left_anti")
        .select("source", "shingle")
        .distinct()
    )
    a = ss.alias("a")
    b = ss.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# q141 — near-dup threshold sweep: the Jaccard histogram of ALL
# candidate pairs (any shared df-capped shingle), bucketed at 0.05 —
# the tuning audit that shows where JACCARD_THRESHOLD should sit for a
# given corpus (a bimodal histogram = clean threshold; mass at the
# threshold = borderline pairs worth inspecting). Identical inverted-
# index shapes as q14; the histogram is a ≤20-group agg on top.
# ---------------------------------------------------------------------------

@register(
    "q141_jaccard_histogram",
    _JACCARD_BASE
    + """
    , inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM fpairs a JOIN fpairs b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
                 AS jac
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.doc_a
        JOIN sizes sb ON sb.doc_id = inter.doc_b
    )
    SELECT CAST(floor(least(jac, 0.999999) * 20) AS INT) AS bucket,
           round(CAST(floor(least(jac, 0.999999) * 20) AS INT) / 20.0, 2)
             AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM j
    GROUP BY 1, 2
    """,
)
def q141_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 8): `_shingle_docs`'s df-capped
    # distinct pairs served as stored postings ⋈ stored-df filter.
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    pairs = SHI.capped_postings(
        spark, shingle_artifact_dir(spark, sf_dir), DD.MAX_SHINGLE_DF
    ).select("doc_id", "shingle")
    # the q14 barrier pattern: one replay of the postings scan + agg
    # per pair side without it
    sizes = (
        pairs.groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
        .transform(barrier)
    )
    inter = (
        DD._bucket_candidate_pairs(
            pairs.select(F.col("shingle").alias("band"), "doc_id")
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.round(
        F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        6,
    )
    bucket = F.floor(F.least(jac, F.lit(0.999999)) * 20).cast("int")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "bucket",
            F.round(F.col("bucket") / 20.0, 2).alias("bucket_lo"),
            "n_pairs",
        )
    )


# ---------------------------------------------------------------------------
# q142 — Zipf-fit audit: least-squares slope of ln(freq) on ln(rank)
# over the top-K vocabulary — natural text tracks slope ≈ -1, and a
# corpus that departs hard from Zipf (templated/generated text) shows
# it here before any model ever trains on it. Token counts are the q30
# shuffle; the regression runs over the K-row ranked list (ranks from
# one scalar collect, regr_* aggregates over K rows).
# ---------------------------------------------------------------------------

@register(
    "q142_zipf_fit",
    f"""
    WITH t AS (
        SELECT unnest({TX.tokens_sql('text')}) AS tok FROM documents
    ),
    f AS (
        SELECT tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY tok
    ),
    v AS (
        SELECT tok, n,
               CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank
        FROM f ORDER BY n DESC, tok LIMIT {VOCAB_TOP_K}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
           round(regr_intercept(ln(n), ln(rank)), 6) AS zipf_intercept,
           round(regr_r2(ln(n), ln(rank)), 6) AS r2
    FROM v
    """,
)
def q142_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 9): the rank-frequency table is the
    # LM store's uni aggregate — the Zipf fit never re-tokenizes.
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir

    art = lm_artifact_dir(spark, sf_dir)
    f = LM.stored_uni(spark, art)
    top = f.orderBy(F.desc("n"), "tok").limit(VOCAB_TOP_K)
    ranked = (
        top.agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("n")).alias("nn"), "tok", "n"))
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.n").alias("n"), (F.col("pos") + 1).cast("int").alias("rank")
        )
    )
    y = F.log(F.col("n").cast("double"))
    x = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.count("*").alias("n_points"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q143 — embedding data-quality audit: the preflight every ANN/dedup
# pipeline runs before indexing — zero-norm vectors (cosine undefined,
# LSH signatures degenerate), wrong-dimension vectors (zip_with would
# silently truncate), NaN components, and the norm envelope. One
# corpus scan, all checks row-local, one scalar aggregate.
# ---------------------------------------------------------------------------

@register(
    "q143_embedding_quality",
    f"""
    WITH s AS (
        SELECT len(embedding) AS dim,
               sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
               len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE)))) > 0
                   AS has_nan
        FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN dim <> {SIM.EMBEDDING_DIM} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bad_dim,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_norm,
           CAST(sum(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm
    FROM s
    """,
)
def q143_embedding_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    s = emb.select(
        F.size("embedding").alias("dim"),
        nrm.alias("nrm"),
        (F.size(F.filter("embedding", lambda x: F.isnan(x.cast("double")))) > 0)
        .alias("has_nan"),
    )
    return s.agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.when(F.col("dim") != SIM.EMBEDDING_DIM, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bad_dim"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_norm"),
        F.sum(F.when(F.col("has_nan"), 1).otherwise(0)).cast("bigint").alias("n_nan"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# q144 — document/embedding alignment audit: which documents lack an
# embedding row and which embeddings are orphaned — the referential
# check a retrieval pipeline runs after every embedding backfill
# (a doc without a vector silently drops out of semantic search; an
# orphan vector pollutes the index). One full-outer join on the id,
# rolled up per source (orphan vectors report under source NULL).
# ---------------------------------------------------------------------------

@register(
    "q144_doc_embedding_coverage",
    """
    WITH j AS (
        SELECT d.doc_id, d.source, e.vec_id
        FROM documents d
        FULL OUTER JOIN embeddings e ON e.vec_id = d.doc_id
    )
    SELECT source,
           CAST(count(doc_id) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_embedded,
           CAST(sum(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing_vec,
           CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphan_vec
    FROM j
    GROUP BY source
    """,
)
def q144_doc_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = docs.join(emb, docs["doc_id"] == emb["vec_id"], "full")
    both = F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull()
    return j.groupBy("source").agg(
        F.count("doc_id").alias("n_docs"),
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias("n_embedded"),
        F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing_vec"),
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_orphan_vec"),
    )


# ---------------------------------------------------------------------------
# q145 — language-mix divergence per source: chi-square statistic of
# each source's language distribution against the corpus-wide mix —
# the audit that flags a source whose language balance departs from
# the corpus before mixing weights bake the skew in. One (source,
# lang) count shuffle; the corpus marginals are dictionary-sized and
# broadcast; the chi-square fold is per-source over |langs| terms.
# ---------------------------------------------------------------------------

@register(
    "q145_lang_mix_divergence",
    """
    WITH sl AS (
        SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang
    ),
    st AS (SELECT source, sum(n) AS s_total FROM sl GROUP BY source),
    lt AS (SELECT lang, sum(n) AS l_total FROM sl GROUP BY lang),
    tot AS (SELECT sum(n) AS t FROM sl),
    terms AS (
        SELECT sl.source,
               pow(sl.n - st.s_total * (lt.l_total * 1.0 / tot.t), 2)
                 / (st.s_total * (lt.l_total * 1.0 / tot.t)) AS term
        FROM sl
        JOIN st USING (source)
        JOIN lt USING (lang)
        CROSS JOIN tot
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_langs,
           round(sum(term), 6) AS chi2
    FROM terms
    GROUP BY source
    """,
)
def q145_lang_mix_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # (source x lang)-cardinality, referenced four times (both margin
    # totals, the grand total, the chi2 terms) — each replayed the
    # corpus scan + agg
    sl = (
        docs.groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
        .transform(barrier)
    )
    st = sl.groupBy("source").agg(F.sum("n").alias("s_total"))
    lt = sl.groupBy("lang").agg(F.sum("n").alias("l_total"))
    tot = sl.agg(F.sum("n").alias("t"))
    expected = F.col("s_total") * (F.col("l_total") * F.lit(1.0) / F.col("t"))
    terms = (
        sl.join(F.broadcast(st), "source")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            (F.pow(F.col("n") - expected, F.lit(2.0)) / expected).alias("term"),
        )
    )
    return terms.groupBy("source").agg(
        F.count("*").alias("n_langs"),
        F.round(F.sum("term"), 6).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# q149 — cluster/label purity: agreement between the embedding
# quantizer's cells (embeddings.label) and the documents' language
# labels, joined on the shared id — the cross-modal diagnostic that
# says whether the cell structure tracks any semantic signal. Purity
# of a cell = share of its dominant language. One id-keyed join, one
# (cell, lang) agg; the purity fold runs on the cell-cardinality
# table via a max-struct (no window).
# ---------------------------------------------------------------------------

@register(
    "q149_cluster_purity",
    """
    WITH j AS (
        SELECT e.label AS cell, d.lang
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    cl AS (
        SELECT cell, lang, count(*) AS n FROM j GROUP BY cell, lang
    ),
    tot AS (
        SELECT cell, sum(n) AS cell_n FROM cl GROUP BY cell
    ),
    dom AS (
        SELECT cell, max({'n': n, 'lang': lang}) AS m FROM cl GROUP BY cell
    )
    SELECT t.cell,
           CAST(t.cell_n AS BIGINT) AS n_vecs,
           d.m['lang'] AS dominant_lang,
           CAST(d.m['n'] AS BIGINT) AS n_dominant,
           round(CAST(d.m['n'] AS DOUBLE) / t.cell_n, 6) AS purity
    FROM tot t JOIN dom d USING (cell)
    """,
)
def q149_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = emb.join(docs, emb["vec_id"] == docs["doc_id"]).select(
        F.col("label").alias("cell"), "lang"
    )
    # (cell x lang)-cardinality, referenced by both the totals and the
    # dominant-language agg — each replayed the embeddings x documents
    # join
    cl = (
        j.groupBy("cell", "lang")
        .agg(F.count("*").alias("n"))
        .transform(barrier)
    )
    tot = cl.groupBy("cell").agg(F.sum("n").alias("cell_n"))
    dom = cl.groupBy("cell").agg(
        F.max(F.struct("n", "lang")).alias("m")
    )
    return (
        tot.join(dom, "cell")
        .select(
            "cell",
            F.col("cell_n").cast("bigint").alias("n_vecs"),
            F.col("m.lang").alias("dominant_lang"),
            F.col("m.n").cast("bigint").alias("n_dominant"),
            F.round(F.col("m.n").cast("double") / F.col("cell_n"), 6).alias(
                "purity"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q151 — IVF cell-balance audit: the size distribution of the
# quantizer's cells and the imbalance factor (max cell / mean cell) —
# the metric that predicts probe-path tail latency (q18/q96/q122 all
# scan whole cells, so one hot cell IS the p99) and decides when the
# quantizer needs retraining. One cell-keyed agg, then a scalar fold
# over the cell-cardinality table.
# ---------------------------------------------------------------------------

@register(
    "q151_ivf_cell_balance",
    """
    WITH c AS (
        SELECT label, count(*) AS n FROM embeddings GROUP BY label
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(n) AS BIGINT) AS min_cell,
           CAST(max(n) AS BIGINT) AS max_cell,
           round(avg(n), 4) AS avg_cell,
           round(max(n) / avg(n), 6) AS imbalance,
           round(stddev_samp(n) / avg(n), 6) AS cv
    FROM c
    """,
)
def q151_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count("*").alias("n"))
    return c.agg(
        F.count("*").alias("n_cells"),
        F.min("n").cast("bigint").alias("min_cell"),
        F.max("n").cast("bigint").alias("max_cell"),
        F.round(F.avg("n"), 4).alias("avg_cell"),
        F.round(F.max("n") / F.avg("n"), 6).alias("imbalance"),
        F.round(F.stddev_samp("n") / F.avg("n"), 6).alias("cv"),
    )


# ---------------------------------------------------------------------------
# q172/q173 — the persisted IVF-PQ index lifecycle: build ONCE (train
# coarse + residual codebooks, encode the corpus, store the code table
# PARTITIONED BY cell — the on-disk inverted-list layout), then serve
# MANY queries from the stored artifact with NO retraining and a
# partition-PRUNED probe read. q172 is the build sign-off report read
# back from the store; q173 is the q161 query served from the store —
# training is deterministic, so both oracles are the same unrolled
# SQL as the inline paths. The build is cached per (sf_dir, corpus
# fingerprint, INDEX_FORMAT_VERSION) under .index_cache/, so repeated
# calls — the bench's steady re-executions, every q173/q175 call after
# the first — pay only the serve cost: the build-once/serve-many
# economics a real index exists for.
# (operators/similarity.build_ivfpq_index / ivfpq_topk_from_index)
# ---------------------------------------------------------------------------


def _ivfpq_index_dir(
    spark: SparkSession, sf_dir: str, split: int | None = None
) -> str:
    """The IVF-PQ index over ``sf_dir``'s embeddings. With ``split``,
    the index is built over the HISTORY slice only (vec_id < split) as
    its own family — the immutable history artifact q174's incremental
    encode serves from. The build writes ``codes`` last, so its
    ``_SUCCESS`` marks a finished build."""

    def write(staging: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        if split is not None:
            emb = emb.filter(F.col("vec_id") < split)
        SIM.build_ivfpq_index(emb, staging)

    return artifact_dir(
        sf_dir,
        "embeddings.parquet",
        "ivfpq" if split is None else f"ivfpq_hist{split}",
        SIM.INDEX_FORMAT_VERSION,
        lambda d: SIM.ivfpq_index_paths(d)[2],
        write,
    )


@register(
    "q172_ivfpq_index_build",
    f"""
    WITH {_RESIDUAL_PQ_CTES},
    ccodes AS (
        SELECT b.vec_id, r.cell, b.s, b.cid
        FROM rbest b
        JOIN (SELECT DISTINCT vec_id, cell FROM resid) r
          ON r.vec_id = b.vec_id
    )
    SELECT cell,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_code_rows,
           CAST(count(DISTINCT s * 1000 + cid) AS BIGINT) AS n_codes_used,
           min(vec_id) AS min_vec,
           max(vec_id) AS max_vec
    FROM ccodes
    GROUP BY cell
    """,
)
def q172_ivfpq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = _ivfpq_index_dir(spark, sf_dir)
    return SIM.ivfpq_stored_cell_stats(spark, index_dir)


@register("q173_ivfpq_search_stored", _IVFPQ_SEARCH_ORACLE)
def q173_ivfpq_search_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    index_dir = _ivfpq_index_dir(spark, sf_dir)
    return SIM.ivfpq_topk_from_index(
        spark, load_table(spark, sf_dir, "embeddings"), index_dir
    )


# ---------------------------------------------------------------------------
# q174 — incremental IVF-PQ encode-ingest: every vector's stored
# layout (cell + residual codes + recon) with BOTH codebooks trained
# on HISTORY only (vec_id < split) — the O(batch) path a serving index
# runs when a delta arrives (assign + encode against the stored
# quantizers, never retrain). q160's ingest rule extended to the full
# IVF-PQ storage layout; the streaming twin drains to these rows.
# (operators/similarity.ivfpq_incremental_encode)
# ---------------------------------------------------------------------------


def _residual_pq_split_ctes(split_id: int) -> str:
    """The q157/q161 residual-PQ chain with BOTH trainers fed from
    history-only sources (hsub / rhsub) — one spec, two engines, same
    parameterized ``pq_codebook_ctes`` builder."""
    return f"""
    sub AS (
        SELECT vec_id, 0 AS s,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS subvec
        FROM embeddings
    ),
    hsub AS (SELECT * FROM sub WHERE vec_id < {split_id}),
    {SIM.pq_codebook_ctes(k=SIM.IVF_K, rounds=SIM.IVF_KMEANS_ROUNDS,
                          train_mod=SIM.IVF_TRAIN_MOD, dsub=SIM.EMBEDDING_DIM,
                          src='hsub')},
    cdist AS (
        SELECT t.vec_id, c.cid,
               list_sum(list_transform(list_zip(t.subvec, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM sub t JOIN cb c ON c.s = t.s
    ),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM cdist
        ) WHERE rn = 1
    ),
    resid AS (
        SELECT a.vec_id, a.cell,
               list_transform(list_zip(s.subvec, c.cvec),
                   p -> p[1] - p[2]) AS rvec
        FROM assign a
        JOIN sub s ON s.vec_id = a.vec_id
        JOIN cb c ON c.cid = a.cell AND c.s = 0
    ),
    rsub AS (
        SELECT vec_id, s.i AS s,
               list_transform(range(1, {SIM.PQ_DSUB} + 1),
                   j -> rvec[(s.i) * {SIM.PQ_DSUB} + j]) AS subvec
        FROM resid,
             LATERAL (SELECT unnest(range(0, {SIM.PQ_M})) AS i) s
    ),
    rhsub AS (SELECT * FROM rsub WHERE vec_id < {split_id}),
    {SIM.pq_codebook_ctes(prefix='r', src='rhsub')},
    rdist AS (
        SELECT a.vec_id, a.s, c.cid,
               list_sum(list_transform(list_zip(a.subvec, c.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM rsub a JOIN rcb c ON c.s = a.s
    ),
    rbest AS (
        SELECT vec_id, s, cid, d2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
            FROM rdist
        ) WHERE rn = 1
    )"""


@register(
    "q174_ivfpq_incremental_encode",
    f"""
    WITH {{SPLIT_CTES}}
    SELECT b.vec_id, r.cell,
           array_to_string(list(b.cid ORDER BY b.s), ',') AS codes,
           round(sqrt(sum(b.d2)), 6) AS recon
    FROM rbest b
    JOIN (SELECT DISTINCT vec_id, cell FROM resid) r ON r.vec_id = b.vec_id
    GROUP BY b.vec_id, r.cell
    """.replace("{SPLIT_CTES}", _residual_pq_split_ctes(400)),
)
def q174_ivfpq_incremental_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # served from the cached HISTORY artifact (vec_id < 400): the
    # codebooks come off the store, so the per-call DAG is the pure
    # O(batch) assign+encode — no Lloyd retraining (training is
    # deterministic, so rows equal the inline history-trained encode;
    # the oracle still unrolls the full training chain)
    index_dir = _ivfpq_index_dir(spark, sf_dir, split=400)
    return SIM.ivfpq_encode_from_index(
        spark, load_table(spark, sf_dir, "embeddings"), index_dir
    )


# ---------------------------------------------------------------------------
# q175 — index-aware semantic-dedup audit: q132's SemDeDup pressure
# report, but attributed to the TRAINED cells read from the PERSISTED
# IVF-PQ index (q172's artifact) instead of the label stand-in — the
# proof that the stored index is consumable across operators: the
# dedup DAG contains NO Lloyd training, just a scan of the stored
# cell-partitioned code table joined to the drop set. Near-dup pairs
# (LSH banding + cosine verify), fixed-k component propagation, and
# the survivor rule are exactly q132's; the attribution join is one
# keyed shuffle of the vec_id->cell table (corpus-sized, narrow) and
# a cell-cardinality agg. The oracle recomputes the trained assignment
# from the same constants — stored == recomputed is the q172 contract.
# ---------------------------------------------------------------------------


def _q175_oracle() -> str:
    pairs_sql = (
        f"WITH P AS ({_EMB_NEARDUP_SQL})\n"
        "    SELECT vec_a AS doc_a, vec_b AS doc_b FROM P"
    )
    return (
        _converged_labels_ctes(pairs_sql)
        + f"""
    , surv AS (
        SELECT label, min(doc_id) AS survivor FROM labels GROUP BY label
    ),
    dropped AS (
        SELECT l.doc_id FROM labels l
        JOIN surv s ON s.label = l.label
        WHERE l.doc_id <> s.survivor
    ),
    {_IVF_TRAINED_CTES}
    SELECT a.cell,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(d.doc_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(d.doc_id) AS BIGINT) AS n_kept,
           round(CAST(count(d.doc_id) AS DOUBLE) / count(*), 6) AS drop_share
    FROM assign a
    LEFT JOIN dropped d ON d.doc_id = a.vec_id
    GROUP BY a.cell
    """
    )


@register("q175_semantic_dedup_stored", _q175_oracle())
def q175_semantic_dedup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    index_dir = _ivfpq_index_dir(spark, sf_dir)
    _coarse, _rcb, codes = SIM.read_ivfpq_index(spark, index_dir)
    cells = codes.select(
        "vec_id", F.col("cell").cast("long").alias("cell")
    ).distinct()
    # round 8: the drop set serves from the SECOND store too — the
    # persisted embed-cluster labels (two artifacts, one serving DAG)
    from whale_sightings_spark.plans.cluster_store import embed_cluster_dir

    labels = DD.stored_cluster_labels(spark, embed_cluster_dir(spark, sf_dir))
    surv = labels.groupBy("label").agg(F.min("doc_id").alias("survivor"))
    dropped = (
        labels.join(surv, "label")
        .filter(F.col("doc_id") != F.col("survivor"))
        .select(F.col("doc_id").alias("vec_id"), F.lit(1).alias("is_dropped"))
    )
    return (
        cells.join(dropped, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.coalesce("is_dropped", F.lit(0))).alias("n_dropped"),
            (F.count("*") - F.sum(F.coalesce("is_dropped", F.lit(0)))).alias(
                "n_kept"
            ),
            F.round(
                F.sum(F.coalesce("is_dropped", F.lit(0))) / F.count("*"), 6
            ).alias("drop_share"),
        )
    )


# ---------------------------------------------------------------------------
# q186 — quality-aware survivor selection: q29's near-dup clusters,
# but the kept document per cluster is the HIGHEST-QUALITY member
# (quality_score desc, doc_id tie-break) instead of min-id — the
# policy real curation pipelines run, since the first-crawled copy of
# a page is often the worst one. Per-source audit prices the choice:
# how many docs survive, what share of tokens they carry, and how
# often quality selection actually flipped the outcome vs the naive
# min-id rule (n_quality_flips — the value of scoring before
# deduping). Shapes: q29's edge-set propagation + one window over the
# cluster-keyed doc table (cluster sizes are near-dup-group-bounded)
# + a source-sized agg. Nothing new shuffles at corpus scale beyond
# the one cluster-keyed hash partition.
# ---------------------------------------------------------------------------


def _q186_oracle() -> str:
    # tokens_kept / kept_token_share COALESCE to 0: a source whose
    # every doc loses its cluster's quality contest has no rk=1 rows,
    # and DuckDB's FILTER-with-no-rows sum is NULL while Spark's
    # sum(when) is 0 — first observed at sf0.1 (the r8 sweep), where
    # source density makes zero-survivor sources possible. 0 is the
    # informative value; both engines now pin it.
    return (
        _converged_labels_ctes(_SIMHASH_PAIRS_SQL)
        + f"""
    , clusters AS (
        SELECT d.doc_id, d.source,
               coalesce(l.label, d.doc_id) AS cluster,
               round({TX.quality_score_sql('d.text')}, 6) AS q,
               {TX.token_count_sql('d.text')} AS n_tokens
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY cluster ORDER BY q DESC, doc_id
               ) AS rk,
               min(doc_id) OVER (PARTITION BY cluster) AS min_id
        FROM clusters
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (rk = 1) AS BIGINT) AS n_survivors,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
           CAST(coalesce(sum(n_tokens) FILTER (rk = 1), 0) AS BIGINT)
               AS tokens_kept,
           round(CAST(coalesce(sum(n_tokens) FILTER (rk = 1), 0) AS DOUBLE)
                 / sum(n_tokens), 6) AS kept_token_share,
           CAST(count(*) FILTER (rk = 1 AND doc_id <> min_id) AS BIGINT)
               AS n_quality_flips
    FROM ranked
    GROUP BY source
    """
    )


@register("q186_quality_survivors", _q186_oracle())
def q186_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # round 8: converged cluster labels served from the persisted
    # artifact (no pair generation or propagation loop in this DAG)
    from whale_sightings_spark.plans.cluster_store import text_cluster_dir

    docs = load_table(spark, sf_dir, "documents")
    labels = DD.stored_cluster_labels(spark, text_cluster_dir(spark, sf_dir))
    clusters = (
        docs.select(
            "doc_id",
            "source",
            F.round(TX.quality_score(F.col("text")), 6).alias("q"),
            TX.token_count(F.col("text")).alias("n_tokens"),
        )
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "q",
            "n_tokens",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster"),
        )
    )
    cw = W.partitionBy("cluster")
    ranked = clusters.select(
        "doc_id",
        "source",
        "n_tokens",
        F.row_number()
        .over(cw.orderBy(F.desc("q"), F.asc("doc_id")))
        .alias("rk"),
        F.min("doc_id").over(cw).alias("min_id"),
    )
    kept = F.col("rk") == 1
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_survivors"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_kept"),
        F.round(
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            / F.sum("n_tokens"),
            6,
        ).alias("kept_token_share"),
        F.sum((kept & (F.col("doc_id") != F.col("min_id"))).cast("long")).alias(
            "n_quality_flips"
        ),
    )


# ---------------------------------------------------------------------------
# q212 — k-means elbow audit for the coarse quantizer: inertia /
# mean distortion / relative drop at k in {2,4,8}, trained with the
# SAME Lloyd rounds and train-sample as the production IVF build.
# q155 reports the balance of the one k the index shipped with; this
# prices the alternatives before committing an index rebuild.
# (operators/similarity.kmeans_elbow; twin unrolled per-k from the
# same constants by kmeans_elbow_sql.)
# ---------------------------------------------------------------------------

@register("q212_kmeans_elbow", SIM.kmeans_elbow_sql())
def q212_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.kmeans_elbow(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# q233 — density-based pruning served FROM the persisted index (the
# D4/SSL-prototypes recipe beside q132's SemDeDup): dense embedding
# cells are dominated by templated near-duplicates, so each cell is
# capped to ~sqrt(|cell|) survivors via a per-cell keep RATE applied
# as a row-local content-stable hash test. Rate-based (not ranked):
# no per-cell window ever touches row-scale data — the decision per
# vector is one broadcast-joined ppm threshold against hash60(id).
# The cell assignment comes off the q172 STORED code table (s=0 rows
# of the partition-pruned inverted lists), so the prune never touches
# the embedding vectors at all; the oracle retrains the deterministic
# coarse quantizer and reproduces the same cells.
# ---------------------------------------------------------------------------

_D4_PPM = 1_000_000


@register(
    "q233_density_prune",
    f"""
    WITH {_IVF_TRAINED_CTES},
    counts AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n_c
        FROM assign GROUP BY cell
    ),
    rates AS (
        SELECT cell, n_c,
               least(CAST({_D4_PPM} AS BIGINT),
                     CAST(floor({_D4_PPM}.0 * ceil(sqrt(n_c)) / n_c)
                          AS BIGINT)) AS keep_ppm
        FROM counts
    ),
    decided AS (
        SELECT a.cell, r.n_c, r.keep_ppm,
               ({hash60_sql("CAST(a.vec_id AS VARCHAR)")} % {_D4_PPM})
                   < r.keep_ppm AS keep
        FROM assign a JOIN rates r ON r.cell = a.cell
    )
    SELECT cell,
           max(n_c) AS n_vecs,
           max(keep_ppm) AS keep_ppm,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 4)
               AS kept_share
    FROM decided
    GROUP BY cell
    """,
)
def q233_density_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.hashing import hash60

    index_dir = _ivfpq_index_dir(spark, sf_dir)
    _coarse, _rcb, codes = SIM.read_ivfpq_index(spark, index_dir)
    assign = codes.filter(F.col("s") == 0).select(
        "vec_id", F.col("cell").cast("bigint").alias("cell")
    )
    counts = assign.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_c")
    )
    rates = counts.select(
        "cell",
        "n_c",
        F.least(
            F.lit(_D4_PPM).cast("bigint"),
            F.floor(
                F.lit(float(_D4_PPM)) * F.ceil(F.sqrt("n_c")) / F.col("n_c")
            ).cast("bigint"),
        ).alias("keep_ppm"),
    )
    decided = assign.join(F.broadcast(rates), "cell").select(
        "cell",
        "n_c",
        "keep_ppm",
        (
            (hash60(F.col("vec_id").cast("string")) % _D4_PPM)
            < F.col("keep_ppm")
        ).alias("keep"),
    )
    return decided.groupBy("cell").agg(
        F.max("n_c").alias("n_vecs"),
        F.max("keep_ppm").alias("keep_ppm"),
        F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_kept"),
        F.round(
            F.avg(F.when(F.col("keep"), F.lit(1.0)).otherwise(F.lit(0.0))),
            4,
        ).alias("kept_share"),
    )


# ---------------------------------------------------------------------------
# q234 — cross-source contamination matrix: for every source pair,
# how many distinct 5-gram shingles they SHARE (and the Jaccard over
# their shingle sets) — the diagnostic a mixer reads before q220's
# ablation or q224's reweighting, because two "different" crawls that
# share half their shingles are one source wearing two names. Scale
# key: the corpus first collapses to DISTINCT (shingle, source), so
# the shingle-keyed self-join is bounded per key by |sources| (≤190
# pairs per shingle at 20 sources) — hot shingles can never quadratic
# on document count, only on the bounded source dictionary.
# ---------------------------------------------------------------------------


@register(
    "q234_source_overlap_matrix",
    f"""
    WITH sh AS (
        SELECT DISTINCT source, unnest({TX.word_shingles_sql('text', 5)})
                   AS shingle
        FROM documents
    ),
    per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_shingles
        FROM sh GROUP BY source
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           pa.n_shingles AS n_a, pb.n_shingles AS n_b,
           round(s.n_shared * 1.0
                 / (pa.n_shingles + pb.n_shingles - s.n_shared), 6)
               AS jaccard
    FROM shared s
    JOIN per_src pa ON pa.source = s.source_a
    JOIN per_src pb ON pb.source = s.source_b
    """,
)
def q234_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SERVED FROM THE STORE (round 8): the distinct (source, shingle)
    # width-5 set is the artifact's src5 table — the former
    # barrier becomes a plain parquet re-scan per consumer.
    from whale_sightings_spark.operators import shingles as SHI
    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir

    sh = SHI.stored_src5(spark, shingle_artifact_dir(spark, sf_dir))
    per_src = sh.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_shingles")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    pa = per_src.alias("pa")
    pb = per_src.alias("pb")
    return (
        shared.join(
            F.broadcast(pa), F.col("source_a") == F.col("pa.source")
        )
        .join(F.broadcast(pb), F.col("source_b") == F.col("pb.source"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.col("pa.n_shingles").alias("n_a"),
            F.col("pb.n_shingles").alias("n_b"),
            F.round(
                F.col("n_shared")
                * F.lit(1.0)
                / (
                    F.col("pa.n_shingles")
                    + F.col("pb.n_shingles")
                    - F.col("n_shared")
                ),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q237 — hard-negative mining from the stored index: dense-retrieval
# training wants, per query, near neighbors with a DIFFERENT label
# (the "hard negatives" that actually move a contrastive loss; random
# negatives are too easy). Serve path: the q173 partition-pruned
# stored-index search, labels broadcast-joined onto both sides, same-
# label hits dropped, survivors re-ranked per query. The rank window
# runs over ≤ |Q|·k rows (the q161 family's sanctioned shape). Beside
# q169's text-side contrastive pairs, this is the embedding-side miner.
# ---------------------------------------------------------------------------

_HARDNEG_K = 3


@register(
    "q237_hard_negative_mining",
    f"""
    WITH base AS ({_IVFPQ_SEARCH_ORACLE}),
    lab AS (SELECT vec_id, label FROM embeddings),
    flagged AS (
        SELECT b.query_id, b.neighbor_id, b.adc_d2,
               ql.label AS query_label, nl.label AS neighbor_label
        FROM base b
        JOIN lab ql ON ql.vec_id = b.query_id
        JOIN lab nl ON nl.vec_id = b.neighbor_id
        WHERE ql.label <> nl.label
    )
    SELECT query_id, neighbor_id, query_label, neighbor_label, adc_d2,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY adc_d2, neighbor_id
           ) AS INT) AS hard_rank
    FROM flagged
    QUALIFY hard_rank <= {_HARDNEG_K}
    """,
)
def q237_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    topk = SIM.ivfpq_topk_from_index(
        spark, emb, _ivfpq_index_dir(spark, sf_dir)
    )
    # topk is bounded (|Q|·k rows) but the label table is corpus-scale:
    # semi-join each label side down to the ids topk actually touches
    # (|Q| and |Q|·k respectively) BEFORE broadcasting, so the broadcast
    # payload stays query-bounded no matter how large `embeddings` grows.
    topk = barrier(topk)
    lab = emb.select("vec_id", "label")
    ql = (
        lab.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "query_label")
        .join(
            F.broadcast(topk.select("query_id").distinct()),
            "query_id",
            "left_semi",
        )
    )
    nl = (
        lab.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "neighbor_label")
        .join(
            F.broadcast(topk.select("neighbor_id").distinct()),
            "neighbor_id",
            "left_semi",
        )
    )
    flagged = (
        topk.join(F.broadcast(ql), "query_id")
        .join(F.broadcast(nl), "neighbor_id")
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .select(
            "query_id",
            "neighbor_id",
            "query_label",
            "neighbor_label",
            "adc_d2",
        )
    )
    ranked = flagged.withColumn(
        "hard_rank",
        F.row_number()
        .over(
            W.partitionBy("query_id").orderBy(
                F.asc("adc_d2"), F.asc("neighbor_id")
            )
        )
        .cast("int"),
    )
    return ranked.filter(F.col("hard_rank") <= _HARDNEG_K)


# ---------------------------------------------------------------------------
# q243 — cluster-artifact rebuild drift audit (the q188/q238 pattern
# applied to the FIFTH artifact): converge the near-dup components on
# the HISTORY slice (doc_id % 5 <> 4, the q188 hold) inline, read the
# FULL corpus labels off the persisted cluster store, and compare the
# two clusterings over the docs both saw. New data can both CLUSTER
# previously-singleton docs (new edges) and DE-cluster old members
# (a band pushed over MAX_BAND_BUCKET drops its pairs — the hot-bucket
# cap is part of the operator contract, so its drift is real and worth
# pricing). Scale shape: one inline history convergence (edge-set-
# bounded rounds), one store scan, one full-outer join of two
# label tables — never corpus-scale joins.
# ---------------------------------------------------------------------------

_CDRIFT_HOLD = "doc_id % 5 <> 4"


@register(
    "q243_cluster_rebuild_drift",
    "WITH RECURSIVE "
    + _converged_labels_chain(
        _simhash_pairs_sql_p("h_", _CDRIFT_HOLD), "h_"
    )
    + ",\n    "
    + _converged_labels_chain(_simhash_pairs_sql_p(), "")
    + f"""
    , old_full AS (
        SELECT doc_id, label FROM labels WHERE {_CDRIFT_HOLD}
    ),
    j AS (
        SELECT coalesce(h.doc_id, f.doc_id) AS doc_id,
               h.label AS l_hist, f.label AS l_full
        FROM h_labels h FULL OUTER JOIN old_full f ON f.doc_id = h.doc_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM h_labels) AS n_docs_hist,
           (SELECT CAST(count(*) AS BIGINT) FROM old_full) AS n_docs_full_old,
           CAST(sum(CASE WHEN l_hist IS NOT NULL AND l_full IS NOT NULL
                              AND l_hist = l_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stable,
           CAST(sum(CASE WHEN l_hist IS NOT NULL AND l_full IS NOT NULL
                              AND l_hist <> l_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_label_changed,
           CAST(sum(CASE WHEN l_hist IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_newly_clustered,
           CAST(sum(CASE WHEN l_full IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_declustered,
           (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM h_labels)
               AS n_clusters_hist,
           (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM labels)
               AS n_clusters_full
    FROM j
    """,
)
def q243_cluster_rebuild_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import (
        stored_hist_labels,
        text_cluster_dir,
    )

    art = text_cluster_dir(spark, sf_dir)
    hold = (F.col("doc_id") % 5) != 4
    # round 12: the whole history side — pair derivation AND label
    # convergence over `stored_cluster_sigs % hold` — is a chain of
    # generation-keyed derived tables (`derived_histpairs` ->
    # `derived_histlabels`, shared with q251/q258): it re-derives from
    # first principles whenever the sig table's generation moves
    # (every append/rebuild — exactly when drift can change) and is
    # served between generations
    hist = stored_hist_labels(spark, sf_dir)
    full = DD.stored_cluster_labels(spark, art)
    core = DR.rebuild_drift(
        hist, full.filter(hold), ["doc_id"], value_col="label"
    ).select(
        F.col("n_hist").alias("n_docs_hist"),
        F.col("n_stored").alias("n_docs_full_old"),
        "n_stable",
        F.col("n_changed").alias("n_label_changed"),
        F.col("n_gained").alias("n_newly_clustered"),
        F.col("n_lost").alias("n_declustered"),
    )
    ch = hist.agg(
        F.countDistinct("label").cast("bigint").alias("n_clusters_hist")
    )
    cf = full.agg(
        F.countDistinct("label").cast("bigint").alias("n_clusters_full")
    )
    return core.crossJoin(F.broadcast(ch)).crossJoin(F.broadcast(cf))


# ---------------------------------------------------------------------------
# q246 — leakage-safe split for the EMBEDDING corpus: q126's guard on
# the vector side — every member of an embedding near-dup cluster
# (the stored embed-cluster labels) lands in the same train/val/test
# split, so retrieval eval vectors cannot leak into training via
# near-duplicate embeddings. Labels come off the persisted artifact
# (one parquet scan); the split decision is a row-local hash of the
# cluster id; the report pins the exact survivor sets via sum_ids.
# ---------------------------------------------------------------------------


def _q246_oracle() -> str:
    from whale_sightings_spark.plans.queries_quality import (
        SPLIT_TRAIN_UPTO,
        SPLIT_VAL_UPTO,
    )

    pairs_sql = (
        f"WITH P AS ({_EMB_NEARDUP_SQL})\n"
        "    SELECT vec_a AS doc_a, vec_b AS doc_b FROM P"
    )
    key = hash60_sql("CAST(cluster AS VARCHAR) || ':esplit'")
    return (
        _converged_labels_ctes(pairs_sql)
        + f"""
    , clusters AS (
        SELECT e.vec_id, coalesce(l.label, e.vec_id) AS cluster
        FROM embeddings e LEFT JOIN labels l ON l.doc_id = e.vec_id
    ),
    s AS (
        SELECT vec_id, cluster,
               CASE WHEN ({key}) % 100 < {SPLIT_TRAIN_UPTO} THEN 'train'
                    WHEN ({key}) % 100 < {SPLIT_VAL_UPTO} THEN 'val'
                    ELSE 'test' END AS split
        FROM clusters
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
           CAST(sum(vec_id) AS BIGINT) AS sum_ids
    FROM s
    GROUP BY split
    """
    )


@register("q246_embed_leakage_split", _q246_oracle())
def q246_embed_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.functions.hashing import hash60
    from whale_sightings_spark.plans.cluster_store import embed_cluster_dir
    from whale_sightings_spark.plans.queries_quality import (
        SPLIT_TRAIN_UPTO,
        SPLIT_VAL_UPTO,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    labels = DD.stored_cluster_labels(spark, embed_cluster_dir(spark, sf_dir))
    clusters = (
        emb.select("vec_id")
        .join(
            labels.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
        )
        .select(
            "vec_id",
            F.coalesce(F.col("label"), F.col("vec_id")).alias("cluster"),
        )
    )
    bucket = hash60(
        F.concat(F.col("cluster").cast("string"), F.lit(":esplit"))
    ) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_UPTO, "train")
        .when(bucket < SPLIT_VAL_UPTO, "val")
        .otherwise("test")
    )
    return clusters.withColumn("split", split).groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.countDistinct("cluster").cast("bigint").alias("n_clusters"),
        F.sum("vec_id").cast("bigint").alias("sum_ids"),
    )


# ---------------------------------------------------------------------------
# q251 — pair/edge-table rebuild drift audit (round 9: the q243 pattern
# applied to the SEVENTH persisted surface, the stored near-dup edge
# table): derive the pair graph on the HISTORY slice inline, read the
# full-corpus pairs off the store restricted to docs both saw, and
# price the drift. Edges drift BOTH ways under growth: a band bucket
# pushed over MAX_BAND_BUCKET by new docs drops pairs the history had
# (n_lost), and history buckets that were over the cap can fall under
# it in other slices (n_gained) — the hot-bucket cap is part of the
# operator contract, so its drift is real and a maintenance job prices
# it before trusting incremental ingest between rebuilds. Scale shape:
# one inline history pair derivation (the only corpus-touching stage),
# one store scan, one edge-keyed full-outer join — never corpus-scale
# joins.
# ---------------------------------------------------------------------------


def _pairs_cte_chain(pairs_sql: str, prefix: str = "") -> str:
    """CTE chain (no leading WITH) ending in ``{prefix}pairs``."""
    body = pairs_sql.strip()
    head, final = body[4:].rsplit("SELECT", 1)
    return f"{head}, {prefix}pairs AS (SELECT {final})"


@register(
    "q251_pair_rebuild_drift",
    "WITH "
    + _pairs_cte_chain(_simhash_pairs_sql_p("h_", _CDRIFT_HOLD), "h_")
    + ",\n    "
    + _pairs_cte_chain(_simhash_pairs_sql_p())
    + f"""
    , full_held AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE doc_a % 5 <> 4 AND doc_b % 5 <> 4
    ),
    j AS (
        SELECT h.doc_a IS NOT NULL AS in_hist,
               f.doc_a IS NOT NULL AS in_full
        FROM h_pairs h
        FULL OUTER JOIN full_held f
          ON f.doc_a = h.doc_a AND f.doc_b = h.doc_b
    )
    SELECT CAST(sum(CASE WHEN in_hist THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_hist,
           CAST(sum(CASE WHEN in_full THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_full_held,
           CAST(sum(CASE WHEN in_hist AND in_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stable,
           CAST(sum(CASE WHEN in_full AND NOT in_hist THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gained,
           CAST(sum(CASE WHEN in_hist AND NOT in_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost
    FROM j
    """,
)
def q251_pair_rebuild_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import (
        stored_hist_pairs,
        stored_text_pairs,
    )

    # round 12: the history pair derivation (banding + caps + Hamming
    # verify over the stored sigs sliced to the hold) runs once per
    # artifact generation and persists as `derived_histpairs` (shared
    # with q243/q258); this audit consumes the stored result and
    # prices its drift against the full-corpus pair table
    hist = stored_hist_pairs(spark, sf_dir).select("doc_a", "doc_b")
    full_held = stored_text_pairs(spark, sf_dir).filter(
        ((F.col("doc_a") % 5) != 4) & ((F.col("doc_b") % 5) != 4)
    )
    return DR.rebuild_drift(hist, full_held, ["doc_a", "doc_b"]).select(
        F.col("n_hist").alias("n_pairs_hist"),
        F.col("n_stored").alias("n_pairs_full_held"),
        "n_stable",
        "n_gained",
        "n_lost",
    )


# ---------------------------------------------------------------------------
# q252 — near-dup graph degree profile off the stored edge table: how
# many docs have k verified near-duplicates — the hub/template detector
# (a fat tail means boilerplate families that min-id survivor selection
# handles badly; the k-core and triangle audits drill into the same
# structure). Serve path: one store scan, one node-keyed agg, one
# degree-cardinality-bounded rollup; the corpus is never touched.
# ---------------------------------------------------------------------------


@register(
    "q252_neardup_degree_profile",
    "WITH "
    + _pairs_cte_chain(_simhash_pairs_sql_p())
    + """
    , deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT doc_a AS v FROM pairs
            UNION ALL
            SELECT doc_b AS v FROM pairs
        ) GROUP BY v
    )
    SELECT degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           min(v) AS min_doc
    FROM deg
    GROUP BY degree
    """,
)
def q252_neardup_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import stored_text_pairs

    pairs = stored_text_pairs(spark, sf_dir)
    nodes = pairs.select(F.col("doc_a").alias("v")).unionAll(
        pairs.select(F.col("doc_b").alias("v"))
    )
    deg = nodes.groupBy("v").agg(F.count("*").cast("bigint").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.min("v").alias("min_doc"),
    )


# ---------------------------------------------------------------------------
# q253 — cluster-artifact merge-pressure audit (the REBUILD TRIGGER for
# the streaming cluster ingest): deferred-merge events recorded by
# `streaming_cluster_ingest` plus stored edges whose endpoints carry
# different effective labels. Zero/zero on a freshly-built artifact —
# the oracle derives the same pair graph and converged labels and runs
# the identical cross-edge join, so the audit's join logic (not just
# its quiet reading) is twinned. Nonzero means incremental ingest has
# outgrown the stored labels and a rebuild is due (pytest covers the
# nonzero path with a crafted two-cluster bridge).
# ---------------------------------------------------------------------------


@register(
    "q253_cluster_merge_pressure",
    "WITH RECURSIVE "
    + _converged_labels_chain(_simhash_pairs_sql_p())
    + """
    SELECT CAST(0 AS BIGINT) AS n_merge_events,
           (SELECT CAST(coalesce(sum(
                CASE WHEN la.label <> lb.label THEN 1 ELSE 0 END), 0)
                AS BIGINT)
            FROM pairs p
            JOIN labels la ON la.doc_id = p.doc_a
            JOIN labels lb ON lb.doc_id = p.doc_b)
               AS n_cross_cluster_edges
    """,
)
def q253_cluster_merge_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import text_cluster_dir

    return DD.cluster_merge_pressure(spark, text_cluster_dir(spark, sf_dir))


# ---------------------------------------------------------------------------
# q255 — incremental embed-assign audit (round 9): the read-only
# streaming-assign semantics (`similarity.embed_assign_from_store`,
# `streaming/events.py:streaming_embed_assign`) as an oracle-paired
# query. History = vec_id % EASSIGN_MOD != EASSIGN_REM, indexed once
# into the v4 embed artifact (vectors + hyperplane band index + FROZEN
# bucket sizes + TRUE converged labels); the held-out 2% is assigned
# against it exactly as arriving data would be: O(delta) band probe
# under the history hot-bucket cap, cosine verify joins the STORED
# vectors for candidates only, label = matched neighbors' minimum
# effective label, no-match vectors are their own singleton. The
# oracle recomputes the entire chain — history pairs, recursive
# transitive-closure labels, banding, frozen-cap probe, verify,
# assignment — so the store IS checked against first principles.
# NOTE the cap difference vs q19: assignment probes kept history
# buckets of ANY size <= MAX_SIG_BUCKET (a singleton history bucket
# can still match an arriving vector); the within-corpus pair join
# additionally requires >= 2 members.
# ---------------------------------------------------------------------------


def _q255_oracle() -> str:
    from whale_sightings_spark.plans.cluster_store import (
        EASSIGN_MOD,
        EASSIGN_REM,
    )

    hist = f"vec_id % {EASSIGN_MOD} <> {EASSIGN_REM}"
    arriving = f"vec_id % {EASSIGN_MOD} = {EASSIGN_REM}"
    pairs_sql = (
        f"WITH P AS ({_emb_neardup_sql_where(hist)})\n"
        "    SELECT vec_a AS doc_a, vec_b AS doc_b FROM P"
    )
    return (
        _converged_labels_ctes(pairs_sql)
        + f"""
    , hsig AS (
        SELECT vec_id, {SIM.lsh_signature_sql('embedding')} AS sig
        FROM embeddings WHERE {hist}
    ),
    hband AS (
        SELECT vec_id, 0 AS bi, sig % {1 << SIM.LSH_BAND_BITS} AS bk FROM hsig
        UNION ALL
        SELECT vec_id, 1 AS bi, sig // {1 << SIM.LSH_BAND_BITS} AS bk FROM hsig
    ),
    hkept AS (
        SELECT bi, bk FROM hband GROUP BY bi, bk
        HAVING count(*) <= {SIM.MAX_SIG_BUCKET}
    ),
    asig AS (
        SELECT vec_id, {SIM.lsh_signature_sql('embedding')} AS sig
        FROM embeddings WHERE {arriving}
    ),
    aband AS (
        SELECT vec_id, 0 AS bi, sig % {1 << SIM.LSH_BAND_BITS} AS bk FROM asig
        UNION ALL
        SELECT vec_id, 1 AS bi, sig // {1 << SIM.LSH_BAND_BITS} AS bk FROM asig
    ),
    acand AS (
        SELECT DISTINCT a.vec_id, h.vec_id AS hist_id
        FROM aband a
        JOIN hkept k ON k.bi = a.bi AND k.bk = a.bk
        JOIN hband h ON h.bi = a.bi AND h.bk = a.bk
    ),
    ver AS (
        SELECT c.vec_id, c.hist_id,
               round({SIM.cosine_sql('eb.embedding', 'eh.embedding')}, 6)
                   AS cos
        FROM acand c
        JOIN embeddings eb ON eb.vec_id = c.vec_id
        JOIN embeddings eh ON eh.vec_id = c.hist_id
        WHERE round({SIM.cosine_sql('eb.embedding', 'eh.embedding')}, 6)
              >= {SIM.COSINE_DUP_THRESHOLD}
    ),
    best AS (
        SELECT v.vec_id,
               CAST(count(*) AS BIGINT) AS n_matched,
               max(v.cos) AS best_cos,
               min(coalesce(l.label, v.hist_id)) AS match_label
        FROM ver v LEFT JOIN labels l ON l.doc_id = v.hist_id
        GROUP BY v.vec_id
    )
    SELECT e.vec_id,
           coalesce(b.n_matched, 0) AS n_matched,
           b.best_cos,
           CAST(coalesce(b.match_label, e.vec_id) AS BIGINT) AS label
    FROM embeddings e LEFT JOIN best b ON b.vec_id = e.vec_id
    WHERE e.vec_id % {EASSIGN_MOD} = {EASSIGN_REM}
    """
    )


@register("q255_embed_incremental_assign", _q255_oracle())
def q255_embed_incremental_assign(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import (
        EASSIGN_MOD,
        EASSIGN_REM,
        embed_hist_cluster_dir,
    )

    art = embed_hist_cluster_dir(spark, sf_dir)
    arriving = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % EASSIGN_MOD) == EASSIGN_REM
    )
    return SIM.embed_assign_from_store(arriving, spark, art)


# ---------------------------------------------------------------------------
# q261 — IVF-PQ codes-table rebuild-drift audit (round 11: the
# `operators/drift.rebuild_drift` core applied to the stored ANN
# index). The coarse codebook is the MODEL; the cell-assignment code
# table is the derived artifact that streaming ingest appends to — so
# the audit re-assigns the history slice (vec_id % 5 <> 4) against the
# STORED centroids from first principles (one broadcast-codebook pass
# over the slice, the q172 serve geometry) and drifts (vec_id, cell)
# against the stored codes restricted to the same slice. n_changed
# prices torn/duplicated appends and stale cells; n_gained/n_lost
# price manifest damage. Integer outputs only. The oracle re-derives
# BOTH sides from the shared trained-quantizer CTE chain, so the
# drift join logic itself is twinned (the q253 convention).
# ---------------------------------------------------------------------------


@register(
    "q261_ivf_codes_rebuild_drift",
    f"""
    WITH {_IVF_TRAINED_CTES},
    h AS (SELECT vec_id, cell FROM assign WHERE vec_id % 5 <> 4),
    st AS (SELECT vec_id, cell FROM assign WHERE vec_id % 5 <> 4),
    j AS (
        SELECT h.vec_id IS NOT NULL AS in_hist,
               st.vec_id IS NOT NULL AS in_stored,
               h.cell AS hc, st.cell AS sc
        FROM h FULL OUTER JOIN st ON st.vec_id = h.vec_id
    )
    SELECT CAST(sum(CASE WHEN in_hist THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hist_codes,
           CAST(sum(CASE WHEN in_stored THEN 1 ELSE 0 END) AS BIGINT)
               AS n_stored_codes,
           CAST(sum(CASE WHEN in_hist AND in_stored AND hc = sc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_stable,
           CAST(sum(CASE WHEN in_hist AND in_stored AND hc <> sc
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cell_changed,
           CAST(sum(CASE WHEN in_stored AND NOT in_hist THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gained,
           CAST(sum(CASE WHEN in_hist AND NOT in_stored THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost
    FROM j
    """,
)
def q261_ivf_codes_rebuild_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    idx = _ivfpq_index_dir(spark, sf_dir)
    coarse, _rcb, _codes = SIM.read_ivfpq_index(spark, idx)
    held = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 5) != 4
    )
    hist = SIM._pq_assign_to(SIM._fulldim_sub(held), coarse).select(
        "vec_id", F.col("cid").cast("long").alias("cell")
    )
    stored = SIM.trained_assign_from_index(spark, idx).filter(
        (F.col("vec_id") % 5) != 4
    )
    return DR.rebuild_drift(
        hist, stored, ["vec_id"], value_col="cell"
    ).select(
        F.col("n_hist").alias("n_hist_codes"),
        F.col("n_stored").alias("n_stored_codes"),
        "n_stable",
        F.col("n_changed").alias("n_cell_changed"),
        "n_gained",
        "n_lost",
    )


# ---------------------------------------------------------------------------
# q262 — MinHash pair-artifact rebuild-drift audit (round 11: the last
# persisted surface without one — the v5 minhash graph whose weighted
# pair table serves q15). The q251 shape on the MinHash-LSH pair
# generator: re-derive the verified pair set over the history slice
# (doc_id % 5 <> 4) from first principles — shingle -> minhash -> band
# -> bucket join -> Jaccard verify, the full pipeline, since minhash
# signatures are not persisted for this graph — and drift it against
# the STORED pair table restricted to docs both saw. Presence-only
# (the jaccard weight is float; the q251 convention), integer outputs
# only. Drift is real in both directions: band buckets crossing
# MAX_BAND_BUCKET under growth drop pairs the history had, and the
# df cap shifts shingle survivorship between slices.
# ---------------------------------------------------------------------------


def _minhash_pairs_sql_p(p: str = "", where: str = "") -> str:
    """CTE chain (no leading WITH) ending in ``{p}mh`` (doc_a, doc_b) —
    the q15 oracle pipeline parameterized by prefix + doc filter."""
    w = f" WHERE {where}" if where else ""
    return f"""{p}sh AS (
        SELECT doc_id, {_SHINGLES} AS shingles FROM documents{w}
    ),
    {p}sig AS (
        SELECT doc_id, [{", ".join(_SIG_EXPRS)}] AS sig
        FROM {p}sh WHERE len(shingles) > 0
    ),
    {p}banded AS (
        SELECT doc_id, unnest([{", ".join(_BAND_EXPRS)}]) AS band
        FROM {p}sig
    ),
    {p}kept_bands AS (
        SELECT band FROM {p}banded GROUP BY band
        HAVING count(*) > 1 AND count(*) <= {DD.MAX_BAND_BUCKET}
    ),
    {p}cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM {p}banded a
        JOIN {p}banded b ON a.band = b.band AND a.doc_id < b.doc_id
        JOIN {p}kept_bands k ON k.band = a.band
    ),
    {p}spairs AS (
        SELECT DISTINCT doc_id, shingle
        FROM (SELECT doc_id, unnest({_SHINGLES}) AS shingle
              FROM documents{w})
    ),
    {p}keep AS (
        SELECT shingle FROM {p}spairs GROUP BY shingle
        HAVING count(*) <= {DD.MAX_SHINGLE_DF}
    ),
    {p}fpairs AS (
        SELECT sp.doc_id, sp.shingle
        FROM {p}spairs sp JOIN {p}keep USING (shingle)
    ),
    {p}sizes AS (
        SELECT doc_id, count(*) AS n FROM {p}fpairs GROUP BY doc_id
    ),
    {p}inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM {p}cands c
        JOIN {p}fpairs a ON a.doc_id = c.doc_a
        JOIN {p}fpairs b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    {p}mh AS (
        SELECT i.doc_a, i.doc_b
        FROM {p}inter i
        JOIN {p}sizes sa ON sa.doc_id = i.doc_a
        JOIN {p}sizes sb ON sb.doc_id = i.doc_b
        WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
              >= {DD.JACCARD_THRESHOLD}
    )"""


def minhash_hist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) — q262's history side: the shingle->minhash->
    band->verify pipeline over the hold slice, a pure function of
    documents.parquet (row-local hash-seeded signatures), persisted as
    a derived table of the corpus-fingerprint-keyed minhash artifact —
    re-derived once per corpus generation, independent of the stored
    pair table the audit prices (the store is never an input)."""
    from whale_sightings_spark.plans.cluster_store import (
        _derived_table,
        minhash_cluster_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    hold = (F.col("doc_id") % 5) != 4
    return _derived_table(
        spark,
        minhash_cluster_dir(spark, sf_dir),
        "histpairs",
        lambda: DD.minhash_lsh_pairs(docs.filter(hold))
        .select("doc_a", "doc_b")
        .coalesce(1),
    )



@register(
    "q262_minhash_pair_rebuild_drift",
    "WITH "
    + _minhash_pairs_sql_p("h_", _CDRIFT_HOLD)
    + ",\n    "
    + _minhash_pairs_sql_p()
    + f"""
    , full_held AS (
        SELECT doc_a, doc_b FROM mh
        WHERE doc_a % 5 <> 4 AND doc_b % 5 <> 4
    ),
    j AS (
        SELECT h.doc_a IS NOT NULL AS in_hist,
               f.doc_a IS NOT NULL AS in_full
        FROM h_mh h
        FULL OUTER JOIN full_held f
          ON f.doc_a = h.doc_a AND f.doc_b = h.doc_b
    )
    SELECT CAST(sum(CASE WHEN in_hist THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_hist,
           CAST(sum(CASE WHEN in_full THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_full_held,
           CAST(sum(CASE WHEN in_hist AND in_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stable,
           CAST(sum(CASE WHEN in_full AND NOT in_hist THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gained,
           CAST(sum(CASE WHEN in_hist AND NOT in_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost
    FROM j
    """,
)
def q262_minhash_pair_rebuild_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import (
        stored_minhash_pairs,
    )

    hist = minhash_hist_pairs(spark, sf_dir).select("doc_a", "doc_b")
    full_held = stored_minhash_pairs(spark, sf_dir).filter(
        ((F.col("doc_a") % 5) != 4) & ((F.col("doc_b") % 5) != 4)
    ).select("doc_a", "doc_b")
    return DR.rebuild_drift(hist, full_held, ["doc_a", "doc_b"]).select(
        F.col("n_hist").alias("n_pairs_hist"),
        F.col("n_stored").alias("n_pairs_full_held"),
        "n_stable",
        "n_gained",
        "n_lost",
    )


# ---------------------------------------------------------------------------
# q264 — EMBED pair-artifact rebuild-drift audit (round 12: the embed
# cluster store — pairs + labels + vectors, serving q19/q246 and the
# streaming assign probe — was the one persisted surface without a
# drift audit). The q262 shape on the embedding near-dup graph:
# re-derive the sign->band->cap->cosine-verify pair set over the
# HISTORY slice (vec_id % 5 <> 4) from embeddings.parquet — a pure
# function of the corpus, persisted as a generation-keyed derived
# table of the embed artifact — and price presence drift against the
# STORED pair table restricted to vectors both saw (the cos weight is
# float; presence-only keys keep the hash gate integer, the q251
# convention). MAX_SIG_BUCKET cap interactions drift edges BOTH ways
# under growth, exactly like the text graph's MAX_BAND_BUCKET.
# ---------------------------------------------------------------------------


def _emb_pairs_cte(prefix: str = "", where: str = "") -> str:
    """CTE chain (no leading WITH) ending in ``{prefix}pairs``
    (vec_a, vec_b) — the q19 oracle pipeline in prefix form so the
    history and full derivations coexist in one statement."""
    p = prefix
    w = f"WHERE {where}" if where else ""
    return f"""{p}sigs AS (
        SELECT vec_id, {SIM.lsh_signature_sql('embedding')} AS sig
        FROM embeddings {w}
    ),
    {p}banded AS (
        SELECT vec_id, 0 AS bi, sig % {1 << SIM.LSH_BAND_BITS} AS bk
        FROM {p}sigs
        UNION ALL
        SELECT vec_id, 1 AS bi, sig // {1 << SIM.LSH_BAND_BITS} AS bk
        FROM {p}sigs
    ),
    {p}kept AS (
        SELECT bi, bk FROM {p}banded GROUP BY bi, bk
        HAVING count(*) > 1 AND count(*) <= {SIM.MAX_SIG_BUCKET}
    ),
    {p}blocked AS (
        SELECT s.* FROM {p}banded s JOIN {p}kept USING (bi, bk)
    ),
    {p}pairs AS (
        SELECT c.vec_a, c.vec_b
        FROM (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM {p}blocked a JOIN {p}blocked b
              ON a.bi = b.bi AND a.bk = b.bk AND a.vec_id < b.vec_id
        ) c
        JOIN embeddings ea ON ea.vec_id = c.vec_a
        JOIN embeddings eb ON eb.vec_id = c.vec_b
        WHERE round({SIM.cosine_sql('ea.embedding', 'eb.embedding')}, 6)
              >= {SIM.COSINE_DUP_THRESHOLD}
    )"""


_EDRIFT_HOLD = "vec_id % 5 <> 4"


def embed_hist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_a, vec_b) — q264's history side: the hyperplane-LSH
    sign->band->cap->cosine-verify pipeline over the hold slice of
    embeddings.parquet, persisted as a derived table of the
    corpus-fingerprint-keyed embed artifact (one vector pass per
    corpus generation; the stored pair table the audit prices is
    never an input to this side)."""
    from whale_sightings_spark.plans.cluster_store import (
        _derived_table,
        embed_cluster_dir,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    hold = (F.col("vec_id") % 5) != 4

    def _build():
        return (
            SIM.embedding_neardup_pairs(emb.filter(hold))
            .select("vec_a", "vec_b")
            .coalesce(1)
        )

    return _derived_table(
        spark, embed_cluster_dir(spark, sf_dir), "histpairs", _build
    )


@register(
    "q264_embed_pair_rebuild_drift",
    "WITH "
    + _emb_pairs_cte("h_", _EDRIFT_HOLD)
    + ",\n    "
    + _emb_pairs_cte()
    + f"""
    , full_held AS (
        SELECT vec_a, vec_b FROM pairs
        WHERE vec_a % 5 <> 4 AND vec_b % 5 <> 4
    ),
    j AS (
        SELECT h.vec_a IS NOT NULL AS in_hist,
               f.vec_a IS NOT NULL AS in_full
        FROM h_pairs h
        FULL OUTER JOIN full_held f
          ON f.vec_a = h.vec_a AND f.vec_b = h.vec_b
    )
    SELECT CAST(sum(CASE WHEN in_hist THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_hist,
           CAST(sum(CASE WHEN in_full THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_full_held,
           CAST(sum(CASE WHEN in_hist AND in_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stable,
           CAST(sum(CASE WHEN in_full AND NOT in_hist THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gained,
           CAST(sum(CASE WHEN in_hist AND NOT in_full THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost
    FROM j
    """,
)
def q264_embed_pair_rebuild_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import (
        stored_embed_pairs,
    )

    hist = embed_hist_pairs(spark, sf_dir).select("vec_a", "vec_b")
    full_held = stored_embed_pairs(spark, sf_dir).filter(
        ((F.col("doc_a") % 5) != 4) & ((F.col("doc_b") % 5) != 4)
    ).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    return DR.rebuild_drift(hist, full_held, ["vec_a", "vec_b"]).select(
        F.col("n_hist").alias("n_pairs_hist"),
        F.col("n_stored").alias("n_pairs_full_held"),
        "n_stable",
        "n_gained",
        "n_lost",
    )


# ---------------------------------------------------------------------------
# q265 — embed vector-table coverage audit (round 12: the q263 shape
# for the SECOND per-row store). The read-only streaming assign probe
# and the q255 incremental-assign audit verify ARRIVING vectors
# against the STORED evecs table — a torn or replayed ingest that
# drops, duplicates, or orphans stored vectors silently distorts
# every assign they serve. Ids only through `drift.key_coverage`:
# the embeddings vec_id set vs the stored evecs vec_id set. Oracle:
# an intact evecs table is by construction one row per corpus vector
# (the q263/q253 convention — the Spark side reads the REAL store,
# so any damage mismatches the structurally-clean oracle; nonzero
# paths are unit-pinned in tests/test_drift.py).
# ---------------------------------------------------------------------------


@register(
    "q265_evec_coverage_audit",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_expected,
           CAST(count(*) AS BIGINT) AS n_stored_keys,
           CAST(count(*) AS BIGINT) AS n_covered,
           CAST(0 AS BIGINT) AS n_missing,
           CAST(0 AS BIGINT) AS n_orphan,
           CAST(0 AS BIGINT) AS n_dup_keys,
           CAST(count(*) AS BIGINT) AS n_stored_rows
    FROM embeddings
    """,
)
def q265_evec_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whale_sightings_spark.plans.cluster_store import embed_cluster_dir
    from whale_sightings_spark.plans.store_utils import read_artifact_table

    art = embed_cluster_dir(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    evecs = read_artifact_table(
        spark, DD.cluster_evecs_path(art)
    ).select("vec_id")
    return DR.key_coverage(emb, evecs, ["vec_id"])
