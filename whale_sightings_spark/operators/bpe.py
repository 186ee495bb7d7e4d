"""Corpus-trained BPE merge table (net-new LLM-pipeline surface).

Classic byte-pair-encoding training, formulated the way it scales:
NEVER over corpus token rows, always over the WORD-FREQUENCY
DICTIONARY — the corpus collapses to (word, count) once (one
corpus-scale agg), and every merge round then runs over vocab-scale
symbol rows (a bounded dictionary, exactly the Sennrich et al. 2016
formulation). At 100 TB the corpus pass is unavoidable; the K training
rounds cost vocab x word-length rows each, independent of corpus size.

Per round: (1) count adjacent symbol pairs weighted by word count,
(2) take the argmax pair with a deterministic tie-break (count DESC,
left, right) — a TakeOrdered scalar collect, the q112 driver-loop
pattern, (3) apply the merge to every word simultaneously with the
classic greedy-left-to-right non-overlap rule. Overlapping candidates
(only possible in same-symbol runs, e.g. merge (a,a) on "aaa") resolve
via gaps-and-islands: within each maximal run of consecutive candidate
positions, merge the even offsets — for distinct pairs candidates are
never adjacent and the rule degenerates to "merge all", so ONE window
expression covers both cases in both engines.

The DuckDB twin (``bpe_ctes``) unrolls the same K rounds from the same
constants — one spec, two engines, including the in-SQL argmax that
must agree with Spark's collected one (integer counts, binary string
ordering). Reference parity note: the reference repo has no tokenizer
training at all; SURVEY.md's LLM-pipeline mandate is the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.session import barrier

#: merge-table size (rounds of training); vocab cap bounds training
#: cost on open vocabularies — words beyond the cap still ENCODE via
#: the trained merges' char fallback (see bpe_fertility)
BPE_ROUNDS = 8
BPE_VOCAB_CAP = 1000

#: bump to invalidate persisted BPE artifacts when the training
#: constants or storage layout change (mirrors
#: similarity.INDEX_FORMAT_VERSION for the IVF-PQ artifact)
BPE_FORMAT_VERSION = 1

_MERGE_SCHEMA = (
    "round int, left_sym string, right_sym string, merged string,"
    " pair_count bigint"
)
_SYMS_SCHEMA = "word string, wcount bigint, pos bigint, sym string"


def word_dict(docs: DataFrame) -> DataFrame:
    """(word, wcount) — the corpus collapsed to its word-frequency
    dictionary: one corpus-scale agg, then the deterministic top-cap
    (count DESC, word) via TakeOrdered."""
    words = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("wcount"))
        .orderBy(F.desc("wcount"), F.asc("word"))
        .limit(BPE_VOCAB_CAP)
    )


def _char_rows(wd: DataFrame) -> DataFrame:
    """(word, wcount, pos 1-based, sym) — each dictionary word split
    into single-character symbols (row-local)."""
    return wd.select(
        "word",
        "wcount",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            )
        ).alias("p0", "sym"),
    ).select(
        "word", "wcount", (F.col("p0") + 1).cast("bigint").alias("pos"), "sym"
    )


def _apply_merge(syms: DataFrame, a: str, b: str) -> DataFrame:
    """One simultaneous greedy merge pass of pair (a, b) over all
    words. Candidates = positions where (sym, next) == (a, b); within
    each maximal run of CONSECUTIVE candidate positions (gaps-and-
    islands grouping), even offsets merge and the following position
    is consumed — the classic left-to-right non-overlap rule. Windows
    partition by word (vocab-scale rows, word-length-bounded
    partitions)."""
    word_w = W.partitionBy("word").orderBy("pos")
    cand_w = W.partitionBy("word", "cand").orderBy("pos")
    grp_w = W.partitionBy("word", "grp")
    t = syms.withColumn(
        "cand",
        (F.col("sym") == a)
        & (F.coalesce(F.lead("sym").over(word_w) == b, F.lit(False))),
    )
    g = t.withColumn(
        "grp",
        F.when(F.col("cand"), F.col("pos") - F.row_number().over(cand_w)),
    )
    f = g.withColumn(
        "mrg",
        F.col("cand")
        & ((F.col("pos") - F.min("pos").over(grp_w)) % 2 == 0),
    )
    kept = f.withColumn("consumed", F.lag("mrg").over(word_w)).filter(
        ~F.coalesce(F.col("consumed"), F.lit(False))
    )
    return kept.select(
        "word",
        "wcount",
        F.row_number().over(word_w).cast("bigint").alias("pos"),
        F.when(F.col("mrg"), F.lit(a + b)).otherwise(F.col("sym")).alias("sym"),
    )


def _pair_counts(syms: DataFrame) -> DataFrame:
    """(a, b, cnt) — adjacent symbol pairs weighted by word count (one
    vocab-scale window + keyed agg with map-side partials)."""
    word_w = W.partitionBy("word").orderBy("pos")
    return (
        syms.withColumn("nxt", F.lead("sym").over(word_w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
        .agg(F.sum("wcount").cast("bigint").alias("cnt"))
    )


def bpe_train(docs: DataFrame, rounds: int = BPE_ROUNDS):
    """K rounds of (pair-count -> argmax -> apply); returns
    (merge list [(round, left, right, merged, count)], final symbol
    frame). The per-round argmax is a 1-row TakeOrdered collect; the
    symbol frame goes behind a ``barrier`` per round so lineage stays
    flat across rounds (the q112 iterative-operator convention)."""
    return bpe_train_from_dict(word_dict(docs), rounds)


def bpe_train_from_dict(wd: DataFrame, rounds: int = BPE_ROUNDS):
    """Train from an already-built (word, wcount) dictionary — the
    entry the streaming ingest twin uses: its drained word-count state
    aggregates to exactly ``word_dict``'s output, so the trained
    merges are identical to the batch operator's. ``wd`` must already
    carry the deterministic top-cap ordering contract."""
    syms = barrier(_char_rows(wd))
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        top = (
            _pair_counts(syms)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((r, a, b, a + b, cnt))
        syms = barrier(_apply_merge(syms, a, b))
    return merges, syms


def bpe_merge_table(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """(round, left_sym, right_sym, merged, pair_count) — the trained
    merge table, K rows (the artifact a tokenizer ships)."""
    merges, _syms = bpe_train(docs, rounds)
    return docs.sparkSession.createDataFrame(merges, _MERGE_SCHEMA)


# ---------------------------------------------------------------------------
# Persisted tokenizer artifact — the q172 build-once/serve-many
# convention applied to BPE: a real pipeline trains the tokenizer ONCE
# and ships it; every consumer (fertility audit, vocab sizing,
# segmentation review, packing) reads the stored tables instead of
# re-deriving the identical merge sequence per query.
# ---------------------------------------------------------------------------


def bpe_artifact_paths(artifact_dir: str) -> tuple[str, str]:
    """(symbols_dir, merges_dir) under ``artifact_dir``. Symbols are
    written FIRST and merges LAST: the build-if-absent cache keys on
    the merges ``_SUCCESS`` marker, so a build torn between the two
    writes is invisible (the guard artifact is missing → rebuild), the
    same torn-write contract as ``streaming_ivfpq_encode``."""
    base = artifact_dir.rstrip("/")
    return base + "/symbols", base + "/merges"


def build_bpe_artifact(
    docs: DataFrame, artifact_dir: str, rounds: int = BPE_ROUNDS
) -> str:
    """Train once and persist BOTH shipped tables: the final symbol
    frame (word, wcount, pos, sym — vocab-scale, ≤ cap × word-length
    rows) and the K-row merge table. Both are tiny by construction
    (the corpus never lands on disk), so single-file writes; overwrite
    mode keeps a retried build idempotent."""
    merges, syms = bpe_train(docs, rounds)
    syms_dir, merges_dir = bpe_artifact_paths(artifact_dir)
    (
        syms.select(
            "word", F.col("wcount").cast("bigint").alias("wcount"), "pos", "sym"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(syms_dir)
    )
    mt = docs.sparkSession.createDataFrame(merges, _MERGE_SCHEMA)
    mt.coalesce(1).write.mode("overwrite").parquet(merges_dir)
    return artifact_dir


def bpe_stored_symbols(spark: SparkSession, artifact_dir: str) -> DataFrame:
    from whale_sightings_spark.plans.store_utils import read_artifact_table

    syms_dir, _merges_dir = bpe_artifact_paths(artifact_dir)
    return read_artifact_table(spark, syms_dir, _SYMS_SCHEMA)


def bpe_stored_merge_table(spark: SparkSession, artifact_dir: str) -> DataFrame:
    from whale_sightings_spark.plans.store_utils import read_artifact_table

    _syms_dir, merges_dir = bpe_artifact_paths(artifact_dir)
    return read_artifact_table(spark, merges_dir, _MERGE_SCHEMA)


def bpe_stored_word_tokens(spark: SparkSession, artifact_dir: str) -> DataFrame:
    """(word, n_tokens) from the STORED symbol frame — the broadcast
    lookup every serving consumer joins against (no retraining)."""
    return (
        bpe_stored_symbols(spark, artifact_dir)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n_tokens"))
    )


def bpe_fertility_from_store(
    docs: DataFrame, spark: SparkSession, artifact_dir: str
) -> DataFrame:
    """``bpe_fertility`` served from the persisted artifact: identical
    output (training is deterministic), but the only corpus-scale work
    left is the word-stream join — the vocab-scale token table comes
    off the store as a broadcast side."""
    wt = bpe_stored_word_tokens(spark, artifact_dir)
    dw = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("word"),
    ).filter(F.col("word") != "")
    j = dw.join(F.broadcast(wt), "word", "left").select(
        "source",
        "word",
        F.coalesce("n_tokens", F.length("word").cast("bigint")).alias("n_toks"),
    )
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("n_toks").cast("bigint").alias("n_bpe_tokens"),
        F.round(F.sum("n_toks") / F.count("*"), 6).alias("fertility"),
        F.round(F.sum(F.length("word")) / F.sum("n_toks"), 6).alias(
            "bytes_per_token"
        ),
    )


def bpe_word_tokens(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """(word, wcount, n_tokens, n_chars) — every dictionary word's
    trained-BPE token count (symbols remaining after the K merges)."""
    _merges, syms = bpe_train(docs, rounds)
    return syms.groupBy("word", "wcount").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.length(F.first("word")).cast("bigint").alias("n_chars"),
    )


def bpe_fertility(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Per-source fertility audit over TRAINED-BPE tokens (q158's
    question asked of the trained tokenizer): words/doc-stream joined
    to the vocab-scale token-count table (broadcast); a word beyond
    the training cap falls back to character tokens (len(word) — the
    untrained worst case), mirrored in the oracle. Returns (source,
    n_words, n_bpe_tokens, fertility = tokens/word, bytes_per_token)."""
    wt = bpe_word_tokens(docs, rounds).select("word", "n_tokens")
    dw = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " +")).alias("word"),
    ).filter(F.col("word") != "")
    j = dw.join(F.broadcast(wt), "word", "left").select(
        "source",
        "word",
        F.coalesce("n_tokens", F.length("word").cast("bigint")).alias("n_toks"),
    )
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("n_toks").cast("bigint").alias("n_bpe_tokens"),
        F.round(F.sum("n_toks") / F.count("*"), 6).alias("fertility"),
        F.round(F.sum(F.length("word")) / F.sum("n_toks"), 6).alias(
            "bytes_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# DuckDB twin — the K rounds unrolled from the SAME constants
# ---------------------------------------------------------------------------


def bpe_ctes(rounds: int = BPE_ROUNDS, cap: int = BPE_VOCAB_CAP,
             prefix: str = "", where: str = "") -> str:
    """CTE chain: wd (word dict), s0 (char rows), then per round r:
    p{r} pair counts, m{r} in-SQL argmax (same tie-break as the Spark
    driver collect), s{r} the merge applied with the same
    gaps-and-islands rule. Ends with s{rounds} and m1..m{rounds} in
    scope. ``prefix`` namespaces every CTE (two chains can coexist
    in one statement, the pq_codebook_ctes convention); ``where``
    filters the documents feeding the word dictionary."""
    parts = [
        f"""{prefix}wd AS (
        SELECT word, CAST(count(*) AS BIGINT) AS wcount FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), ' +')) AS word
            FROM documents{" WHERE " + where if where else ""}
        ) WHERE word <> ''
        GROUP BY word ORDER BY wcount DESC, word LIMIT {cap})""",
        f"""{prefix}s0 AS (
        SELECT word, wcount, CAST(d.i AS BIGINT) AS pos,
               substr(word, CAST(d.i AS INT), 1) AS sym
        FROM {prefix}wd, LATERAL (SELECT unnest(range(1, len(word) + 1)) AS i) d)""",
    ]
    for r in range(1, rounds + 1):
        parts.extend([
            f"""{prefix}p{r} AS (
        SELECT sym AS a, nxt AS b, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
            SELECT sym, wcount,
                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
            FROM {prefix}s{r - 1}
        ) WHERE nxt IS NOT NULL GROUP BY 1, 2)""",
            f"{prefix}m{r} AS (SELECT a, b, cnt FROM {prefix}p{r} ORDER BY cnt DESC, a, b LIMIT 1)",
            *_merge_round_sql(
                f"{prefix}f{r}", f"{prefix}s{r}",
                f"{prefix}s{r - 1}", f"{prefix}m{r}",
            ),
        ])
    return ",\n    ".join(parts)


def _merge_round_sql(out_f: str, out_s: str, src: str, msrc: str) -> list[str]:
    """The one-merge-application CTE pair (candidates -> gaps-and-
    islands -> keep/rename), parameterized over the symbol-frame
    source and the merge-row source so training (``bpe_ctes``) and
    serving (``bpe_apply_ctes``) share ONE spec — including the
    empty-merge pass-through semantics (LEFT JOIN ON true + coalesced
    candidate flag: an exhausted round leaves the frame unchanged,
    matching Spark's early break)."""
    return [
        f"""{out_f} AS (
        SELECT *, cand AND ((pos - min(pos) OVER (PARTITION BY word, grp)) % 2 = 0) AS mrg
        FROM (
            SELECT *, CASE WHEN cand THEN
                       pos - row_number() OVER (PARTITION BY word, cand ORDER BY pos)
                   END AS grp
            FROM (
                SELECT s.word, s.wcount, s.pos, s.sym, m.a AS ma, m.b AS mb,
                       coalesce(s.sym = m.a AND coalesce(
                           lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = m.b,
                           false), false) AS cand
                FROM {src} s LEFT JOIN {msrc} m ON true
            )
        ))""",
        f"""{out_s} AS (
        SELECT word, wcount,
               CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos,
               CASE WHEN mrg THEN ma || mb ELSE sym END AS sym
        FROM (
            SELECT *, lag(mrg) OVER (PARTITION BY word ORDER BY pos) AS consumed
            FROM {out_f}
        ) WHERE NOT coalesce(consumed, false))""",
    ]


def bpe_apply_ctes(
    words_src: str, mprefix: str, rounds: int = BPE_ROUNDS, prefix: str = "a"
) -> str:
    """CTE chain ENCODING an arbitrary word dictionary with an
    already-trained merge sequence — the serve path of a shipped
    tokenizer (no pair counting, no argmax; just K applications of
    ``{mprefix}m1..m{rounds}``). ``words_src`` must expose
    (word, wcount). Ends with ``{prefix}s{rounds}`` in scope."""
    parts = [
        f"""{prefix}s0 AS (
        SELECT word, wcount, CAST(d.i AS BIGINT) AS pos,
               substr(word, CAST(d.i AS INT), 1) AS sym
        FROM {words_src}, LATERAL (SELECT unnest(range(1, len(word) + 1)) AS i) d)""",
    ]
    for r in range(1, rounds + 1):
        parts.extend(
            _merge_round_sql(
                f"{prefix}f{r}", f"{prefix}s{r}",
                f"{prefix}s{r - 1}", f"{mprefix}m{r}",
            )
        )
    return ",\n    ".join(parts)


def bpe_apply_merges(
    wd: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Spark serve-path twin of ``bpe_apply_ctes``: encode the
    (word, wcount) dictionary with an already-trained merge list —
    K bounded ``_apply_merge`` passes over the vocab-scale char frame,
    zero training jobs. ``merges`` is [(left_sym, right_sym), ...] in
    round order (collect the K-row stored merge table to get it — a
    bounded, sanctioned collect)."""
    syms = barrier(_char_rows(wd))
    for a, b in merges:
        syms = barrier(_apply_merge(syms, a, b))
    return syms


def bpe_merge_table_sql(rounds: int = BPE_ROUNDS) -> str:
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS round, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, cnt AS pair_count FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return f"WITH {bpe_ctes(rounds)}\n    {rows}"


def bpe_fertility_sql(rounds: int = BPE_ROUNDS) -> str:
    return f"""
    WITH {bpe_ctes(rounds)},
    wt AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tokens
           FROM s{rounds} GROUP BY word),
    dw AS (
        SELECT source, word FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(lower(text)), ' +')) AS word
            FROM documents
        ) WHERE word <> ''
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(coalesce(t.n_tokens, len(d.word))) AS BIGINT) AS n_bpe_tokens,
           round(sum(coalesce(t.n_tokens, len(d.word))) / count(*), 6) AS fertility,
           round(sum(len(d.word)) / sum(coalesce(t.n_tokens, len(d.word))), 6)
               AS bytes_per_token
    FROM dw d LEFT JOIN wt t ON t.word = d.word
    GROUP BY source
    """
