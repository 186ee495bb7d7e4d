"""Greedy WordPiece-style tokenizer: substring-frequency vocabulary
training + longest-match-first segmentation, the second tokenizer
family next to `operators/bpe.py` (BPE learns MERGES bottom-up; this
learns a PIECE INVENTORY top-down and segments greedily — the
BERT-tokenizer shape). Reference parity: the reference has no
tokenizer at all (its `cleaner.py` stops at string normalization);
this family is part of the training-data-pipeline surface the brief
adds on top, and q215 prices the two tokenizers against each other on
the same corpus.

Spark-first shape:
- the corpus collapses ONCE to the (word, wcount) dictionary (the
  same `bpe.word_dict` economics — training cost is dictionary-scale,
  independent of corpus size);
- candidate pieces come from a bounded double-explode (starts x
  lengths <= WP_MAXP) over the dictionary;
- the vocabulary is a deterministic top-WP_TOPV (count DESC, piece
  ASC) of multi-char pieces plus ALL single characters in both
  positional forms, so greedy segmentation of any training word never
  dead-ends;
- segmentation is a greedy longest-match loop UNROLLED as
  `F.aggregate` over WP_MAXW steps with a (pos, n_pieces, n_unk)
  struct accumulator — no Python in the loop, whole-stage-codegen
  eligible; the vocabulary rides along as a collected-list column from
  a 1-row cross join (never a driver collect);
- the DuckDB twin runs the SAME loop via `list_reduce` over a
  struct-typed step list (v1.0 has no 3-arg reduce, so the initial
  state is list_prepend-ed).

Word-initial pieces are bare; continuation pieces carry the `##`
prefix (the WordPiece convention), counted and selected separately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from whale_sightings_spark.session import barrier

#: max piece length (characters)
WP_MAXP = 4
#: multi-char vocabulary budget (singles ride for free)
WP_TOPV = 40
#: greedy-loop unroll depth — must cover the longest dictionary word
#: (one piece consumed per step; 1-char worst case)
WP_MAXW = 16


def _words(docs: DataFrame) -> DataFrame:
    """(word, wcount) — same tokenization contract as bpe.word_dict
    (lowercase, space-split), uncapped: the piece trainer's own top-V
    is the budget."""
    return (
        docs.select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), " +")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("wcount"))
        # the word dictionary is referenced by every trainer stage
        # (candidates, both vocab branches, the segmenter) — without a
        # barrier each reference replays the corpus explode+agg
        .transform(barrier)
    )


_WORDS_SQL = """
    SELECT word, CAST(count(*) AS BIGINT) AS wcount FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), ' +'))
            AS word
        FROM documents
    ) WHERE word <> '' GROUP BY word
"""


def wp_candidates(wd: DataFrame) -> DataFrame:
    """(piece, cnt): every positional substring of every dictionary
    word up to WP_MAXP chars, weighted by word count; continuation
    occurrences (start > 1) carry the ## prefix."""
    pos = wd.select(
        "word",
        "wcount",
        F.explode(
            F.sequence(F.lit(1), F.length("word"))
        ).alias("i"),
    )
    cand = pos.select(
        "word",
        "wcount",
        "i",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(F.lit(WP_MAXP), F.length("word") - F.col("i") + 1),
            )
        ).alias("l"),
    ).select(
        F.when(
            F.col("i") == 1, F.expr("substr(word, i, l)")
        )
        .otherwise(F.concat(F.lit("##"), F.expr("substr(word, i, l)")))
        .alias("piece"),
        "wcount",
    )
    return cand.groupBy("piece").agg(
        F.sum("wcount").cast("bigint").alias("cnt")
    )


def _cand_sql(src: str = "words") -> str:
    return f"""
        SELECT piece, CAST(sum(wcount) AS BIGINT) AS cnt FROM (
            SELECT CASE WHEN d.i = 1 THEN substr(w.word, d.i, e.l)
                        ELSE '##' || substr(w.word, d.i, e.l) END AS piece,
                   w.wcount
            FROM {src} w,
                 LATERAL (SELECT unnest(range(1, len(w.word) + 1)) AS i) d,
                 LATERAL (SELECT unnest(range(1,
                     least({WP_MAXP}, len(w.word) - d.i + 1) + 1)) AS l) e
        ) GROUP BY piece
    """


def wp_vocab(wd: DataFrame) -> DataFrame:
    """(piece, cnt, is_cont): ALL single-char pieces (both positional
    forms) plus the deterministic top-WP_TOPV multi-char pieces by
    (cnt DESC, piece ASC)."""
    # piece-dictionary-scale, referenced by BOTH branches below (each
    # would replay the double-explode over the word dict)
    cand = barrier(wp_candidates(wd))
    plen = F.length(F.regexp_replace(F.col("piece"), "^##", ""))
    singles = cand.filter(plen == 1)
    multi = (
        cand.filter(plen > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(WP_TOPV)
    )
    return singles.unionByName(multi).select(
        "piece",
        "cnt",
        F.when(F.col("piece").startswith("##"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_cont"),
    )


def _vocab_sql() -> str:
    return f"""
        SELECT piece, cnt,
               CAST(CASE WHEN piece LIKE '##%' THEN 1 ELSE 0 END AS INT)
                   AS is_cont
        FROM (
            SELECT * FROM cand
            WHERE len(regexp_replace(piece, '^##', '')) = 1
            UNION ALL
            SELECT * FROM (
                SELECT * FROM cand
                WHERE len(regexp_replace(piece, '^##', '')) > 1
                ORDER BY cnt DESC, piece LIMIT {WP_TOPV}
            )
        )
    """


def wp_vocab_ctes() -> str:
    """words -> cand -> vocab CTE chain (DuckDB), same constants."""
    return f"""words AS ({_WORDS_SQL}),
    cand AS ({_cand_sql()}),
    vocab AS ({_vocab_sql()})"""


def _greedy_state(word_col: str, vlist_col: str) -> F.Column:
    """Spark greedy longest-match loop: WP_MAXW unrolled steps over a
    (pos, n, unk, vl) struct. At each step try piece lengths WP_MAXP..1
    at the current position (## form when pos > 1); consume the longest
    in-vocab piece, else consume one char as UNK.

    The word and the vocabulary list ride INSIDE the accumulator
    struct rather than as outer references: Catalyst may push a filter
    on the fold's output below the join that supplies ``vlist_col``,
    and an outer lambda reference to a column absent from that node
    dies with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — self-contained
    state sidesteps the rewrite entirely."""
    init = F.struct(
        F.lit(1).cast("int").alias("pos"),
        F.lit(0).cast("int").alias("n"),
        F.lit(0).cast("int").alias("unk"),
        F.col(word_col).alias("w"),
        F.col(vlist_col).alias("vl"),
    )

    def step(acc, _i):
        def cand(length):
            sub = F.substring(acc.w, acc.pos, F.lit(length))
            return F.when(acc.pos == 1, sub).otherwise(
                F.concat(F.lit("##"), sub)
            )

        def fits(length):
            return (
                (acc.pos + F.lit(length) - 1 <= F.length(acc.w))
                & F.array_contains(acc.vl, cand(length))
            )

        def out(new_pos, new_n, new_unk):
            return F.struct(
                new_pos.cast("int").alias("pos"),
                new_n.cast("int").alias("n"),
                new_unk.cast("int").alias("unk"),
                acc.w.alias("w"),
                acc.vl.alias("vl"),
            )

        taken = None
        for length in range(WP_MAXP, 0, -1):
            consumed = out(
                acc.pos + F.lit(length), acc.n + 1, acc.unk + F.lit(0)
            )
            taken = (
                F.when(fits(length), consumed)
                if taken is None
                else taken.when(fits(length), consumed)
            )
        fallback = out(acc.pos + 1, acc.n + 1, acc.unk + 1)
        return F.when(acc.pos > F.length(acc.w), acc).otherwise(
            taken.otherwise(fallback)
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(WP_MAXW)), init, step
    )


def _substr_sql(pos_expr: str, length: int) -> str:
    return (
        f"CASE WHEN {pos_expr} = 1 THEN substr(word, {pos_expr}, {length}) "
        f"ELSE '##' || substr(word, {pos_expr}, {length}) END"
    )


def greedy_sql() -> str:
    """DuckDB twin of the greedy loop as an expression over columns
    ``word`` (VARCHAR) and ``vlist`` (VARCHAR[]); returns a
    (pos, n, unk) struct."""
    branches = []
    for length in range(WP_MAXP, 0, -1):
        branches.append(
            f"WHEN acc.pos + {length} - 1 <= len(word) AND "
            f"list_contains(vlist, {_substr_sql('acc.pos', length)}) THEN "
            f"struct_pack(pos := acc.pos + {length}, n := acc.n + 1, "
            f"unk := acc.unk)"
        )
    chain = " ".join(branches)
    return f"""list_reduce(
        list_prepend(struct_pack(pos := 1, n := 0, unk := 0),
            list_transform(range(1, {WP_MAXW} + 1),
                i -> struct_pack(pos := 0, n := 0, unk := 0))),
        (acc, x) -> CASE WHEN acc.pos > len(word) THEN acc
            {chain}
            ELSE struct_pack(pos := acc.pos + 1, n := acc.n + 1,
                             unk := acc.unk + 1) END
    )"""


def wp_word_stats(wd: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, wcount, n_pieces, n_unk): every dictionary word greedily
    segmented against the trained vocabulary (vocab rides as a
    collected-list column from a 1-row broadcast cross join)."""
    vl = vocab.agg(
        F.array_sort(F.collect_list("piece")).alias("vlist")
    )
    st = _greedy_state("word", "vlist")
    return (
        wd.crossJoin(F.broadcast(vl))
        .select(
            "word",
            "wcount",
            st.getField("n").cast("bigint").alias("n_pieces"),
            st.getField("unk").cast("bigint").alias("n_unk"),
        )
    )


def wp_word_stats_sql() -> str:
    """seg CTE (word, wcount, n_pieces, n_unk); expects words+vocab
    CTEs in scope."""
    return f"""
        SELECT word, wcount,
               CAST(st.n AS BIGINT) AS n_pieces,
               CAST(st.unk AS BIGINT) AS n_unk
        FROM (
            SELECT w.word, w.wcount, {greedy_sql()} AS st
            FROM words w
            CROSS JOIN (SELECT list(piece ORDER BY piece) AS vlist
                        FROM vocab) v
        )
    """


def wp_segment_audit(docs: DataFrame) -> DataFrame:
    """Per-source WordPiece segmentation audit: fertility (pieces per
    word occurrence), UNK share, bytes per piece. The word stream
    joins the dictionary-scale segmentation table (broadcast); all
    sums are exact integers until the final divisions."""
    wd = _words(docs)
    seg = wp_word_stats(wd, wp_vocab(wd)).select(
        "word", "n_pieces", "n_unk"
    )
    dw = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), " +")
        ).alias("word"),
    ).filter(F.col("word") != "")
    j = dw.join(F.broadcast(seg), "word")
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        F.sum("n_unk").cast("bigint").alias("n_unk"),
        F.round(
            F.sum("n_pieces").cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("fertility"),
        F.round(
            F.sum("n_unk").cast("double")
            / F.sum("n_pieces").cast("double"),
            6,
        ).alias("unk_share"),
        F.round(
            F.sum(F.length("word")).cast("double")
            / F.sum("n_pieces").cast("double"),
            6,
        ).alias("bytes_per_piece"),
    )


def wp_segment_audit_sql() -> str:
    return f"""
    WITH {wp_vocab_ctes()},
    seg AS ({wp_word_stats_sql()}),
    dw AS (
        SELECT source, word FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(lower(text)), ' +'))
                       AS word
            FROM documents
        ) WHERE word <> ''
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(s.n_pieces) AS BIGINT) AS n_pieces,
           CAST(sum(s.n_unk) AS BIGINT) AS n_unk,
           round(CAST(sum(s.n_pieces) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS fertility,
           round(CAST(sum(s.n_unk) AS DOUBLE)
                 / CAST(sum(s.n_pieces) AS DOUBLE), 6) AS unk_share,
           round(CAST(sum(len(d.word)) AS DOUBLE)
                 / CAST(sum(s.n_pieces) AS DOUBLE), 6) AS bytes_per_piece
    FROM dw d JOIN seg s ON s.word = d.word
    GROUP BY source
    """


def wp_vocab_report(docs: DataFrame) -> DataFrame:
    """Trainer sign-off report: vocabulary composition by (piece
    length, positional form) with the top piece per group — the
    at-a-glance answer to 'what did the trainer spend its budget on'."""
    vocab = wp_vocab(_words(docs))
    plen = F.length(F.regexp_replace(F.col("piece"), "^##", ""))
    rn = F.row_number().over(
        W.partitionBy("plen", "is_cont").orderBy(
            F.desc("cnt"), F.asc("piece")
        )
    )
    g = vocab.select(
        plen.cast("int").alias("plen"), "is_cont", "piece", "cnt"
    ).withColumn("rn", rn)
    return g.groupBy("plen", "is_cont").agg(
        F.count("*").cast("bigint").alias("n_pieces"),
        F.sum("cnt").cast("bigint").alias("total_cnt"),
        F.min(F.when(F.col("rn") == 1, F.col("piece"))).alias("top_piece"),
        F.max(F.when(F.col("rn") == 1, F.col("cnt")))
        .cast("bigint")
        .alias("top_cnt"),
    )


def wp_vocab_report_sql() -> str:
    return f"""
    WITH {wp_vocab_ctes()},
    g AS (
        SELECT CAST(len(regexp_replace(piece, '^##', '')) AS INT)
                   AS plen,
               is_cont, piece, cnt,
               row_number() OVER (
                   PARTITION BY len(regexp_replace(piece, '^##', '')),
                                is_cont
                   ORDER BY cnt DESC, piece) AS rn
        FROM vocab
    )
    SELECT plen, is_cont,
           CAST(count(*) AS BIGINT) AS n_pieces,
           CAST(sum(cnt) AS BIGINT) AS total_cnt,
           min(CASE WHEN rn = 1 THEN piece END) AS top_piece,
           CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_cnt
    FROM g
    GROUP BY plen, is_cont
    """
