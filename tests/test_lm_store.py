"""Persisted n-gram LM store (operators/ngram_lm.py): event-extraction
equivalence vs the inline shapes it replaces (including the empty /
single-token / repeated-whitespace edge cases), derived-table
consistency, weighted-fold equivalence, and the build-if-absent cache
contract. The end-to-end value checks live in the oracle suite
(q97/q120/q121/q136/q185/q216/q241 twins); this file pins the
artifact's own invariants on a corpus crafted to hit the edges."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from whale_sightings_spark.operators import ngram_lm as LM

_ROWS = [
    # (doc_id, source, text) — edge-heavy corpus: empty text, spaces
    # only, one token, exactly two, exactly three, repeats, multi-space
    (0, "a", "the whale swims the whale swims"),
    (1, "a", ""),
    (2, "a", "   "),
    (3, "b", "whale"),
    (4, "b", "the whale"),
    (5, "b", "the  whale   swims"),
    (6, "c", "a b a b a"),
    (7, "c", "the whale swims far away from the whale"),
    # doc_id 10 lands in the held-out split (doc_id % 10 == 0 is doc 0
    # and 10) — both splits are populated
    (10, "c", "the whale swims"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_ROWS, "doc_id long, source string, text string")


@pytest.fixture(scope="module")
def built(spark, docs, tmp_path_factory):
    art = str(tmp_path_factory.mktemp("lm_art"))
    LM.build_lm_artifact(docs, art)
    return art


def _inline_bigram_events(docs):
    from whale_sightings_spark.functions.text import tokens

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
    )


def test_doc_bigrams_match_inline_events(spark, docs, built):
    inline = {
        (r["doc_id"], r["w1"], r["w2"]): r["n"]
        for r in _inline_bigram_events(docs)
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    stored = {
        (r["doc_id"], r["w1"], r["w2"]): r["n"]
        for r in LM.stored_doc_big(spark, built).collect()
    }
    assert stored == inline and len(stored) > 0
    # known values: doc 0 has "the whale" twice and "swims the" once
    assert stored[(0, "the", "whale")] == 2
    assert stored[(0, "swims", "the")] == 1
    # empty / whitespace-only / single-token docs contribute nothing
    assert not any(d in (1, 2, 3) for d, _, _ in stored)


def test_doc_unigrams_and_trigrams_known_values(spark, built):
    uni = {
        (r["doc_id"], r["tok"]): r["n"]
        for r in LM.stored_doc_uni(spark, built).collect()
    }
    # multi-space tokenization collapses runs: doc 5 has 3 tokens
    assert uni[(5, "the")] == 1 and uni[(5, "whale")] == 1
    # whitespace-only doc 2 has no tokens at all
    assert not any(d == 2 for d, _ in uni)
    tri = {
        (r["doc_id"], r["w1"], r["w2"], r["w3"]): r["n"]
        for r in LM.stored_doc_tri(spark, built).collect()
    }
    assert tri[(0, "the", "whale", "swims")] == 2
    # two-token doc 4 has no trigrams
    assert not any(d == 4 for d, _, _, _ in tri)


def test_doc_len_matches_inline_token_totals(spark, docs, built):
    """(v3) stored per-doc token totals equal size(tokens(text)) —
    the exact value the inline retrieval family's dl aggregate
    produced — including the whitespace-only / empty edge cases the
    n-gram tables deliberately drop (split of '' is [''], size 1)."""
    from whale_sightings_spark.functions.text import tokens

    inline = {
        r["doc_id"]: r["len"]
        for r in docs.select(
            "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("len")
        ).collect()
    }
    stored = {
        r["doc_id"]: r["len"]
        for r in LM.stored_doc_len(spark, built).collect()
    }
    assert stored == inline and len(stored) == len(_ROWS)
    # edges: empty / whitespace-only docs have ONE (empty) split token
    assert stored[1] == 1 and stored[2] == 1
    # multi-space runs collapse; doc 0 has 6 tokens
    assert stored[5] == 3 and stored[0] == 6
    # sum over doc_uni differs from doc_len exactly on the empty-token
    # docs — the reason doc_len is its own table, not a doc_uni rollup
    uni_sums = {
        r["doc_id"]: r["s"]
        for r in LM.stored_doc_uni(spark, built)
        .groupBy("doc_id")
        .agg(F.sum("n").alias("s"))
        .collect()
    }
    assert 1 not in uni_sums and 2 not in uni_sums
    assert uni_sums[0] == stored[0]


def test_aggregated_tables_are_exact_rollups(spark, built):
    big = LM.stored_doc_big(spark, built)
    pairs = {
        (r["w1"], r["w2"]): r["pair_n"]
        for r in LM.stored_pairs(spark, built).collect()
    }
    recomputed = {
        (r["w1"], r["w2"]): r["s"]
        for r in big.groupBy("w1", "w2").agg(F.sum("n").alias("s")).collect()
    }
    assert pairs == recomputed
    # first_n is the w1-marginal of pair_n
    firsts = {
        r["w1"]: r["first_n"]
        for r in LM.stored_pairs(spark, built).collect()
    }
    marg = {
        r["w1"]: r["s"]
        for r in big.groupBy("w1").agg(F.sum("n").alias("s")).collect()
    }
    assert firsts == marg
    # train tables exclude exactly the held-out docs
    train_pairs = {
        (r["w1"], r["w2"]): r["c12"]
        for r in LM.stored_pairs_train(spark, built).collect()
    }
    rec_train = {
        (r["w1"], r["w2"]): r["s"]
        for r in big.filter(F.col("doc_id") % LM.HOLD_MOD != 0)
        .groupBy("w1", "w2")
        .agg(F.sum("n").alias("s"))
        .collect()
    }
    assert train_pairs == rec_train


def test_weighted_fold_equals_per_event_fold(spark, docs, built):
    """The serve-side identity the q120/q136/q185/q216 rewrites rely
    on: sum over events of ln p == sum over (event-type, n) of n*ln p,
    and count(*) == sum(n)."""
    ev = _inline_bigram_events(docs)
    lm = LM.stored_pairs(spark, built)
    per_event = {
        r["doc_id"]: (r["c"], r["lp"])
        for r in ev.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.log(F.col("pair_n") * 1.0 / F.col("first_n"))).alias("lp"),
        )
        .collect()
    }
    weighted = {
        r["doc_id"]: (r["c"], r["lp"])
        for r in LM.stored_doc_big(spark, built)
        .join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("c"),
            F.sum(
                F.col("n") * F.log(F.col("pair_n") * 1.0 / F.col("first_n"))
            ).alias("lp"),
        )
        .collect()
    }
    assert set(per_event) == set(weighted)
    for d, (c, lp) in per_event.items():
        wc, wlp = weighted[d]
        assert wc == c
        assert math.isclose(wlp, lp, rel_tol=1e-12)


def test_torn_build_is_invisible_to_the_cache_key(spark, docs, tmp_path):
    """pairs/ is written LAST: a build killed before it lands leaves no
    _SUCCESS marker, so the build-if-absent cache treats the artifact
    as absent (the shingle-store torn-write contract)."""
    import shutil

    art = str(tmp_path / "lm_torn")
    LM.build_lm_artifact(docs, art)
    paths = LM.lm_artifact_paths(art)
    marker = os.path.join(paths["pairs"], "_SUCCESS")
    assert os.path.exists(marker)
    shutil.rmtree(paths["pairs"])
    assert not os.path.exists(marker)


def test_compaction_preserves_every_reader_and_defrags(
    spark, docs, tmp_path_factory
):
    """build -> stream-ingest -> COMPACT -> serve: compaction must be
    semantically invisible (per-doc rows identical; aggregated readers
    identical because pre-summing partials does not change sums),
    collapse the aggregated tables to one row per key, reduce file
    count, and preserve the bucket-partitioned pruned-probe layout."""
    import re
    import time

    from pyspark.sql import functions as F

    from whale_sightings_spark.streaming.events import streaming_lm_ingest

    base = tmp_path_factory.mktemp("lm_compact")
    art = str(base / "lm")
    LM.build_lm_artifact(docs.filter(F.col("doc_id") < 5), art)
    delta_dir = str(base / "deltas")
    docs.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 7)).coalesce(
        1
    ).write.parquet(delta_dir, mode="append")
    time.sleep(1.1)
    docs.filter(F.col("doc_id") >= 7).coalesce(1).write.parquet(
        delta_dir, mode="append"
    )
    streaming_lm_ingest(spark, delta_dir, art, str(base / "ck"))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    readers = (
        lambda: LM.stored_doc_uni(spark, art).select(
            "doc_id", "source", "tok", "n"
        ),
        lambda: LM.stored_doc_big(spark, art).select(
            "doc_id", "w1", "w2", "n"
        ),
        lambda: LM.stored_doc_tri(spark, art).select(
            "doc_id", "w1", "w2", "w3", "n"
        ),
        lambda: LM.stored_uni(spark, art),
        lambda: LM.stored_uni_train(spark, art),
        lambda: LM.stored_pairs(spark, art),
        lambda: LM.stored_pairs_train(spark, art),
        lambda: LM.stored_tri_train(spark, art),
        lambda: LM.stored_doc_len(spark, art).select(
            "doc_id", "source", "len"
        ),
    )
    before = [rows(r()) for r in readers]
    stats = LM.compact_lm_store(spark, art)
    after = [rows(r()) for r in readers]
    assert after == before
    assert stats["files_after"] < stats["files_before"]
    # aggregated tables now hold ONE row per key on disk
    raw_pairs = spark.read.parquet(
        LM.lm_artifact_paths(art)["pairs"]
    )
    assert (
        raw_pairs.groupBy("w1", "w2").count().filter("count > 1").count()
        == 0
    )
    # the pruned-probe layout survived
    probe = LM.stored_doc_big(spark, art).filter(
        F.col("bucket").isin([0, 1])
    )
    plan = probe.sparkSession._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan


def test_retrieval_read_path_equal_on_grown_vs_fresh_store(
    spark, docs, tmp_path_factory
):
    """(v3) The retrieval serving reads — the bucket-pruned term
    postings probe and the doc_len length table — must return
    identical rows from a store grown by streaming ingest and from a
    fresh full build: the q103/q190 serving DAGs cross the
    base+published-batch union, so this pins the union path itself,
    not just per-table row equality."""
    import time

    from whale_sightings_spark.streaming.events import streaming_lm_ingest

    base = tmp_path_factory.mktemp("lm_retrieval")
    grown = str(base / "grown")
    LM.build_lm_artifact(docs.filter(F.col("doc_id") < 5), grown)
    delta_dir = str(base / "deltas")
    docs.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 7)).coalesce(
        1
    ).write.parquet(delta_dir, mode="append")
    time.sleep(1.1)
    docs.filter(F.col("doc_id") >= 7).coalesce(1).write.parquet(
        delta_dir, mode="append"
    )
    streaming_lm_ingest(spark, delta_dir, grown, str(base / "ck"))
    fresh = str(base / "fresh")
    LM.build_lm_artifact(docs, fresh)

    terms = ("whale", "swims")

    def probe(art):
        return sorted(
            tuple(r)
            for r in LM.stored_term_postings(spark, art, terms).collect()
        )

    def lengths(art):
        return sorted(
            tuple(r)
            for r in LM.stored_doc_len(spark, art)
            .select("doc_id", "len")
            .collect()
        )

    assert probe(grown) == probe(fresh) and len(probe(fresh)) > 0
    assert lengths(grown) == lengths(fresh)
    # and the (n_docs, avgdl) scalars the BM25 stats side computes
    def stats(art):
        r = (
            LM.stored_doc_len(spark, art)
            .filter(F.col("len").isNotNull())
            .agg(F.count("*").alias("n"), F.avg("len").alias("a"))
            .collect()[0]
        )
        return (r["n"], r["a"])

    assert stats(grown) == stats(fresh)


def test_torn_ingest_batch_is_invisible_and_replay_regenerates(
    spark, docs, tmp_path_factory
):
    """Round-9 (ADVICE r8, medium): a batch that crashes mid-write
    leaves only an ``ingest/.tmp.<id>`` staging dir — no reader and no
    seen-set observes ANY of its tables, so a replayed trigger
    regenerates the whole batch (never the v1 failure mode where the
    anti-join key table landed but sibling tables' rows were lost)."""
    import shutil
    import time

    from whale_sightings_spark.streaming.events import streaming_lm_ingest

    base = tmp_path_factory.mktemp("lm_torn_batch")
    art = str(base / "lm")
    LM.build_lm_artifact(docs.filter(F.col("doc_id") < 5), art)
    n_before = LM.stored_doc_ids(spark, art).count()

    delta_dir = str(base / "deltas")
    docs.filter(F.col("doc_id") >= 5).coalesce(1).write.parquet(
        delta_dir, mode="append"
    )
    # simulate the torn batch: a half-written staging dir with the
    # anti-join-key tables ALREADY populated (the v1 loss window)
    staging = os.path.join(LM.lm_ingest_root(art), ".tmp.0")
    bpaths = LM.lm_artifact_paths(staging)
    delta = spark.read.parquet(delta_dir)
    delta.select(F.col("doc_id").cast("long")).distinct().write.parquet(
        bpaths["doc_ids"]
    )
    # torn staging is invisible to every reader and to the seen-set
    assert LM.stored_doc_ids(spark, art).count() == n_before

    streaming_lm_ingest(spark, delta_dir, art, str(base / "ck"))
    # replay published the batch whole — all tables agree with a fresh
    # full build
    full = str(base / "full")
    LM.build_lm_artifact(docs, full)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for reader in (
        lambda a: LM.stored_doc_uni(spark, a).select("doc_id", "tok", "n"),
        lambda a: LM.stored_uni(spark, a),
        lambda a: LM.stored_pairs(spark, a),
        lambda a: LM.stored_tri_train(spark, a),
        lambda a: LM.stored_doc_ids(spark, a),
        lambda a: LM.stored_doc_len(spark, a).select(
            "doc_id", "source", "len"
        ),
    ):
        assert rows(reader(art)) == rows(reader(full))
    # the torn staging dir was replaced by the published batch
    assert not os.path.isdir(staging) or os.listdir(
        LM.lm_ingest_root(art)
    ), "no published batch"
    time.sleep(0)  # keep the import used under -Werror-less runs
    shutil.rmtree(str(base), ignore_errors=True)


def test_crashed_compaction_reads_as_absent_and_rebuilds(
    spark, docs, tmp_path, monkeypatch
):
    """Round-9 (ADVICE r8, low): a COMPACTING sentinel left by a
    crashed compaction makes the build-if-absent cache treat the store
    as absent — it rebuilds instead of serving a store that may be
    missing a table mid-swap."""
    from whale_sightings_spark.plans.lm_store import lm_artifact_dir
    from whale_sightings_spark.plans.store_utils import compacting_sentinel

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    art = lm_artifact_dir(spark, sf_dir)
    marker = os.path.join(LM.lm_artifact_paths(art)["pairs"], "_SUCCESS")
    mt0 = os.path.getmtime(marker)
    # no sentinel: second call serves the cache (no rebuild)
    assert lm_artifact_dir(spark, sf_dir) == art
    assert os.path.getmtime(marker) == mt0
    # crashed compaction: sentinel present -> full rebuild
    with open(compacting_sentinel(art), "w") as fh:
        fh.write("12345")
    art2 = lm_artifact_dir(spark, sf_dir)
    assert art2 == art
    assert not os.path.exists(compacting_sentinel(art))
    assert os.path.exists(marker)
    assert os.path.getmtime(marker) > mt0


def test_ingest_seen_set_is_manifest_not_ngram_tables(spark, built):
    """The seen-set the ingest anti-joins is the doc-id manifest
    (O(documents)), and its plan touches no n-gram table."""
    ids = LM.stored_doc_ids(spark, built)
    plan = ids.sparkSession._jvm.PythonSQLUtils.explainString(
        ids._jdf.queryExecution(), "formatted"
    )
    assert "doc_ids" in plan
    for table in ("doc_uni", "doc_big", "doc_tri", "/uni", "pairs"):
        assert table not in plan, f"seen-set scans {table}:\n{plan}"
    got = sorted(r["doc_id"] for r in ids.collect())
    assert got == sorted(r[0] for r in _ROWS)


def test_doc_len_null_text_is_null_even_with_ansi_off(spark):
    """(ADVICE r9) doc_len_counts' NULL-for-null-text contract must not
    depend on session config: with spark.sql.ansi.enabled=false the
    legacy sizeOfNull makes a bare size(tokens(null)) return -1, which
    would slip past every len.isNotNull() filter downstream and skew
    n_docs/avgdl. The explicit `when` form holds under either mode."""
    docs = spark.createDataFrame(
        [(0, "a", "the whale"), (1, "a", None), (2, "b", "")],
        "doc_id long, source string, text string",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            got = {
                r["doc_id"]: r["len"]
                for r in LM.doc_len_counts(docs).collect()
            }
            assert got == {0: 2, 1: None, 2: 1}, (mode, got)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_bm25_from_store_keeps_null_text_docs(spark, docs, built):
    """(ADVICE r9) every arriving doc reaches the output: a null-text
    doc scores 0.0 with NULL len (previously the exploded token stream
    yielded no rows for it and the doc vanished before the gate)."""
    batch = spark.createDataFrame(
        [
            (100, "a", "the whale swims"),
            (101, "b", None),
            (102, "c", "nothing relevant"),
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r["doc_id"]: (r["len"], r["n_matched"], r["score"])
        for r in LM.bm25_score_docs_from_store(
            batch, spark, built, ("whale", "far")
        ).collect()
    }
    assert set(out) == {100, 101, 102}
    assert out[101] == (None, 0, 0.0)
    assert out[102] == (2, 0, 0.0)
    assert out[100][1] == 1 and out[100][2] > 0


def test_rebuild_drift_detects_stale_lm_store(spark, docs, tmp_path):
    """End-to-end q259 detection path: an LM store built BEFORE two
    docs arrived must show exactly those docs' postings as n_lost when
    drifted against a first-principles recompute over the current
    corpus (and exact count equality on the shared docs). The quiet
    oracle gate only ever sees a fresh store; this pins that a stale
    one is actually caught."""
    from whale_sightings_spark.operators.drift import rebuild_drift

    stale_art = str(tmp_path / "stale_lm")
    old = docs.filter(F.col("doc_id") < 6)  # docs 6,7,10 not yet ingested
    LM.build_lm_artifact(old, stale_art)

    hold = F.col("doc_id") % 5 != 4  # every crafted doc id passes
    hist = LM.doc_unigram_counts(docs.filter(hold)).select(
        "doc_id", "tok", "n"
    )
    stored = (
        LM.stored_doc_uni(spark, stale_art)
        .filter(hold)
        .select("doc_id", "tok", "n")
    )
    row = rebuild_drift(hist, stored, ["doc_id", "tok"], value_col="n").collect()[0]
    missing = LM.doc_unigram_counts(
        docs.filter(hold & (F.col("doc_id") >= 6))
    ).count()
    assert missing > 0
    assert row["n_lost"] == missing  # the not-yet-ingested docs' postings
    assert row["n_gained"] == 0 and row["n_changed"] == 0
    assert row["n_stable"] == row["n_stored"]


def test_term_bucket_memo_matches_columnar_hash(spark):
    """r12: _term_buckets replaced a per-invocation createDataFrame ->
    distinct -> collect job with a memoized OneRowRelation evaluation.
    Pin it against the columnar pmod(hash(tok)) the store's writers use
    to bucket rows — a drift here would silently empty every pruned
    term probe."""
    terms = ("whale", "swims", "the", "o'brien", "")
    LM._TERM_BUCKET_MEMO.pop(terms, None)
    got = LM._term_buckets(spark, terms)
    expected = sorted(
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "tok string")
        .select(
            F.pmod(F.hash("tok"), F.lit(LM.N_LM_BUCKETS))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    )
    assert got == expected
    # memoized: the second call returns the same object with no job
    assert LM._term_buckets(spark, terms) is LM._TERM_BUCKET_MEMO[terms]
