"""Streaming surface tests (SURVEY §5 streaming plan): replay the
events parquet through readStream and check stream == batch
recomputation; exercise watermarked dedup and the custom stateful
operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from whale_sightings_spark.schemas import load_table
from whale_sightings_spark.streaming.events import (
    run_stream_to_memory,
    session_windows,
    stage_event_replay,
    streaming_dedup_within_watermark,
    streaming_tumbling_counts,
    stateful_user_running_totals,
    tumbling_window_counts,
)


def _id_splits(docs, *qs):
    """doc_id cut points at quantiles ``qs`` of the corpus: ids below
    the first are history, each later range is one delta. Every delta
    range must hold rows, so the ingest under test has something to
    fold in at any scale."""
    cuts = [int(v) for v in docs.approxQuantile("doc_id", list(qs), 0.0)]
    ids = F.col("doc_id")
    for lo, hi in zip(cuts, cuts[1:] + [None]):
        rng = ids >= lo if hi is None else (ids >= lo) & (ids < hi)
        assert docs.filter(rng).count() > 0, (lo, hi)
    return cuts


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Replay zone: several files so maxFilesPerTrigger=1 yields a
    multi-micro-batch stream."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    return stage_event_replay(spark, sf_dir, out, n_files=4)


def test_streaming_tumbling_equals_batch(spark, sf_dir, events_dir):
    stream = streaming_tumbling_counts(spark, events_dir, "1 hour")
    q = run_stream_to_memory(stream, "tumbling_out", output_mode="complete")
    try:
        got = {
            (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
    finally:
        q.stop()
    batch_src = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in tumbling_window_counts(batch_src, "1 hour").collect()
    }
    assert got == expected
    assert len(got) > 100


def test_streaming_dedup_within_watermark(spark, events_dir):
    # watermark wider than the 30-day event span: every duplicate falls
    # within the horizon, so the exactly-once-per-key guarantee is
    # global (with a short watermark, re-emission after state expiry is
    # legitimate behavior, not a bug)
    stream = streaming_dedup_within_watermark(spark, events_dir, watermark="45 days")
    q = run_stream_to_memory(stream, "dedup_out", output_mode="append")
    try:
        rows = spark.sql("SELECT user_id, event_type FROM dedup_out").collect()
    finally:
        q.stop()
    keys = [(r["user_id"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert len(keys) > 0


def test_stateful_running_totals(spark, sf_dir, events_dir):
    stream = stateful_user_running_totals(spark, events_dir)
    q = run_stream_to_memory(stream, "totals_out", output_mode="update")
    try:
        # update mode re-emits per micro-batch: keep the final row per user
        rows = spark.sql(
            """
            SELECT user_id, n_events, total_value FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY n_events DESC) AS rn
                FROM totals_out) WHERE rn = 1
            """
        ).collect()
    finally:
        q.stop()
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 4)) for r in rows}
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("t"))
        .collect()
    )
    expected = {r["user_id"]: (r["n"], r["t"]) for r in batch}
    assert set(got) == set(expected)
    mismatches = {
        u: (got[u], expected[u]) for u in expected if got[u][0] != expected[u][0]
        or abs(got[u][1] - expected[u][1]) > 1e-6
    }
    assert not mismatches, list(mismatches.items())[:5]


def test_session_window_end_is_last_plus_gap(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = session_windows(events, "30 minutes")
    row = out.orderBy("user_id", "session_start").first()
    # end - start >= gap always (single-event session end = ts + gap)
    from datetime import datetime

    fmt = "%Y-%m-%d %H:%M:%S.%f"
    delta = datetime.strptime(row["session_end"], fmt) - datetime.strptime(
        row["session_start"], fmt
    )
    assert delta.total_seconds() >= 30 * 60


def test_streaming_interval_join_equals_batch(spark, sf_dir, events_dir):
    from whale_sightings_spark.streaming.events import streaming_interval_join

    stream = streaming_interval_join(spark, events_dir, within="1 hour")
    q = run_stream_to_memory(stream, "ij_out", output_mode="append")
    try:
        got = {
            (r["click_id"], r["purchase_id"])
            for r in spark.sql("SELECT * FROM ij_out").collect()
        }
    finally:
        q.stop()

    events = load_table(spark, sf_dir, "events")
    l = events.filter(F.col("event_type") == "click").alias("l")
    r = events.filter(F.col("event_type") == "purchase").alias("r")
    want = {
        (row["click_id"], row["purchase_id"])
        for row in l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("l.event_id").alias("click_id"),
            F.col("r.event_id").alias("purchase_id"),
        )
        .collect()
    }
    # append-mode stream-stream join emits a match only once the
    # watermark passes it — on a finite replay the last
    # watermark+interval worth of matches stays buffered (correct
    # unbounded-stream behavior). Every emitted pair must be correct,
    # and every pair safely older than the final horizon must be out.
    assert got <= want

    import datetime as dt

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - dt.timedelta(hours=3)  # watermark 2h + interval 1h
    settled = {
        (row["click_id"], row["purchase_id"])
        for row in l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .filter(F.col("r.ts") < F.lit(horizon))
        .select(
            F.col("l.event_id").alias("click_id"),
            F.col("r.event_id").alias("purchase_id"),
        )
        .collect()
    }
    assert settled <= got


def test_transform_with_state_matches_legacy_stateful(spark, sf_dir, events_dir):
    # Spark 4 transformWithStateInPandas twin of the applyInPandasWithState
    # operator: identical final per-user totals. Needs the RocksDB state
    # store provider (also the at-scale choice) and protobuf (the state
    # server protocol) — gated, not vendored, per the environment brief.
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf for its state "
        "server protocol; not shipped in this container",
    )
    from whale_sightings_spark.streaming.events import (
        stateful_user_running_totals_tws,
    )

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = stateful_user_running_totals_tws(spark, events_dir)
        q = run_stream_to_memory(stream, "tws_out", output_mode="update")
        try:
            rows = spark.sql(
                """
                SELECT user_id, n_events, total_value FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY user_id ORDER BY n_events DESC) AS rn
                    FROM tws_out) WHERE rn = 1
                """
            ).collect()
        finally:
            q.stop()
    finally:
        spark.conf.set(conf_key, prev)
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 4)) for r in rows}
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("t"),
        )
        .collect()
    )
    expected = {r["user_id"]: (r["n"], r["t"]) for r in batch}
    assert set(got) == set(expected)
    bad = {
        u: (got[u], expected[u])
        for u in expected
        if got[u][0] != expected[u][0] or abs(got[u][1] - expected[u][1]) > 1e-6
    }
    assert not bad, list(bad.items())[:5]


def test_streaming_enrich_with_dim_equals_batch(spark, sf_dir, events_dir):
    from whale_sightings_spark.streaming.events import streaming_enrich_with_dim

    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("view", 0.1),
         ("signup", 10.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    stream = streaming_enrich_with_dim(spark, events_dir, dim)
    q = run_stream_to_memory(stream, "enrich_out", output_mode="append")
    try:
        got = {
            (r["event_id"], r["weight"])
            for r in spark.sql("SELECT event_id, weight FROM enrich_out").collect()
        }
    finally:
        q.stop()
    events = spark.read.parquet(events_dir)
    want = {
        (r["event_id"], r["weight"])
        for r in events.join(F.broadcast(dim), "event_type", "left")
        .select("event_id", "weight")
        .collect()
    }
    assert got == want
    assert len(got) >= 1000


def test_streaming_left_outer_interval_join(spark, sf_dir, events_dir):
    from whale_sightings_spark.streaming.events import (
        streaming_left_outer_interval_join,
    )

    stream = streaming_left_outer_interval_join(spark, events_dir, within="1 hour")
    q = run_stream_to_memory(stream, "loj_out", output_mode="append")
    try:
        rows = spark.sql("SELECT * FROM loj_out").collect()
    finally:
        q.stop()
    got_matched = {
        (r["click_id"], r["purchase_id"]) for r in rows if r["purchase_id"] is not None
    }
    got_unmatched = {r["click_id"] for r in rows if r["purchase_id"] is None}

    events = load_table(spark, sf_dir, "events")
    l = events.filter(F.col("event_type") == "click").alias("l")
    r = events.filter(F.col("event_type") == "purchase").alias("r")
    inner = (
        l.join(
            r,
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("l.event_id").alias("click_id"),
            F.col("r.event_id").alias("purchase_id"),
        )
        .collect()
    )
    want_matched = {(row["click_id"], row["purchase_id"]) for row in inner}
    matched_clicks = {c for c, _ in want_matched}

    # emitted matches must be a subset of the batch answer; emitted
    # NULL rows must be clicks with truly no in-window purchase (the
    # watermark proved it)
    assert got_matched <= want_matched
    assert got_unmatched, "outer side should emit for settled unmatched clicks"
    assert not (got_unmatched & matched_clicks)


def test_streaming_incremental_dedup_state_and_replay(spark, sf_dir, tmp_path_factory):
    """The foreachBatch incremental-dedup sink: (a) final state holds
    every distinct fingerprint exactly once with a doc that actually
    carries it; (b) a full replay from a fresh checkpoint leaves the
    state unchanged (at-least-once delivery converges)."""
    from whale_sightings_spark.streaming.events import streaming_incremental_dedup

    base = tmp_path_factory.mktemp("inc_dedup")
    docs_dir = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    state_dir = str(base / "state")
    streaming_incremental_dedup(spark, docs_dir, state_dir, str(base / "ckpt1"))

    state = spark.read.parquet(state_dir)
    fp = docs.select(
        "doc_id",
        F.md5(F.encode(F.lower(F.col("text")), "UTF-8")).alias("fingerprint"),
    )
    n_distinct = fp.select("fingerprint").distinct().count()
    assert state.count() == n_distinct
    assert state.select("fingerprint").distinct().count() == n_distinct
    # every surviving (doc_id, fingerprint) is a real pairing
    assert state.join(fp, ["doc_id", "fingerprint"]).count() == n_distinct

    # replay the whole backlog with a FRESH checkpoint: every batch is
    # re-delivered; the anti-join must keep the state fixed
    before = sorted(tuple(r) for r in state.collect())
    streaming_incremental_dedup(spark, docs_dir, state_dir, str(base / "ckpt2"))
    after = sorted(tuple(r) for r in spark.read.parquet(state_dir).collect())
    assert before == after


def test_streaming_incremental_neardup_matches_batch_and_replays(
    spark, sf_dir, tmp_path_factory
):
    """The foreachBatch incremental near-dup twin: (a) after the
    backlog drains, the emitted pairs equal the batch operator's q138
    result on the same history/delta split; (b) a full replay from a
    fresh checkpoint emits nothing new (at-least-once converges)."""
    from whale_sightings_spark.operators.dedup import minhash_incremental_pairs
    from whale_sightings_spark.streaming.events import streaming_incremental_neardup

    split = 400
    base = tmp_path_factory.mktemp("inc_neardup")
    docs_dir = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < split).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    docs.filter(F.col("doc_id") >= split).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    state_dir = str(base / "state")
    out_dir = str(base / "out")
    streaming_incremental_neardup(
        spark, docs_dir, state_dir, out_dir, str(base / "ckpt1")
    )

    got = sorted(
        tuple(r)
        for r in spark.read.schema("doc_new long, doc_hist long, jaccard double")
        .parquet(out_dir)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in minhash_incremental_pairs(docs, split)
        .select("doc_new", "doc_hist", "jaccard")
        .collect()
    )
    assert got == want and len(got) > 0

    streaming_incremental_neardup(
        spark, docs_dir, state_dir, out_dir, str(base / "ckpt2")
    )
    after = sorted(
        tuple(r)
        for r in spark.read.schema("doc_new long, doc_hist long, jaccard double")
        .parquet(out_dir)
        .collect()
    )
    assert after == got


def test_streaming_ivf_ingest_matches_batch_and_replays(
    spark, sf_dir, tmp_path_factory
):
    """The foreachBatch index-ingest twin: (a) drained-stream per-cell
    history/new counts equal the q160 batch audit's; (b) replay from a
    fresh checkpoint changes nothing (idempotent at-least-once)."""
    from whale_sightings_spark.operators.similarity import (
        ivf_incremental_ingest_audit,
    )
    from whale_sightings_spark.streaming.events import streaming_ivf_ingest

    split = 400
    base = tmp_path_factory.mktemp("ivf_ingest")
    emb_dir = str(base / "emb")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < split).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )
    emb.filter(F.col("vec_id") >= split).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )
    state_dir = str(base / "state")
    streaming_ivf_ingest(spark, emb_dir, state_dir, str(base / "ckpt1"))

    assigns = spark.read.schema("vec_id long, cell long, batch_id long").parquet(
        state_dir + "/assignments"
    )
    got = sorted(
        tuple(r)
        for r in assigns.groupBy("cell")
        .agg(
            F.sum(F.when(F.col("vec_id") < split, 1).otherwise(0)).alias("n_hist"),
            F.sum(F.when(F.col("vec_id") >= split, 1).otherwise(0)).alias("n_new"),
        )
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_incremental_ingest_audit(emb, split)
        .select("cell", "n_hist", "n_new")
        .collect()
    )
    assert got == want and len(got) > 0

    streaming_ivf_ingest(spark, emb_dir, state_dir, str(base / "ckpt2"))
    after = spark.read.schema("vec_id long, cell long, batch_id long").parquet(
        state_dir + "/assignments"
    )
    assert after.count() == assigns.count()


def test_streaming_ivf_ingest_first_batch_without_low_ids(
    spark, sf_dir, tmp_path_factory
):
    """ADVICE r05: when the FIRST micro-batch does not contain vec_ids
    0..IVF_K-1, the codebook must seed from the ids actually present —
    not train partial/empty and silently drop the batch. Deliver the
    HIGH-id file first: the trained codebook must still hold exactly
    IVF_K cells and every vector in the corpus must be assigned."""
    from whale_sightings_spark.operators.similarity import IVF_K
    from whale_sightings_spark.streaming.events import streaming_ivf_ingest

    split = 400
    base = tmp_path_factory.mktemp("ivf_ingest_highfirst")
    emb_dir = str(base / "emb")
    emb = load_table(spark, sf_dir, "embeddings")
    # high ids FIRST (file mod-time orders the stream), low ids second
    emb.filter(F.col("vec_id") >= split).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )
    import time

    time.sleep(1.1)  # distinct mtimes so the file order is stable
    emb.filter(F.col("vec_id") < split).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )
    state_dir = str(base / "state")
    streaming_ivf_ingest(spark, emb_dir, state_dir, str(base / "ckpt1"))

    cb = spark.read.schema("s int, cid bigint, cvec array<double>").parquet(
        state_dir + "/codebook"
    )
    assert cb.count() == IVF_K
    assert sorted(r[0] for r in cb.select("cid").collect()) == list(range(IVF_K))
    assigns = spark.read.schema("vec_id long, cell long, batch_id long").parquet(
        state_dir + "/assignments"
    )
    n = emb.count()
    assert assigns.count() == n, "no vector may be silently dropped"
    assert assigns.select("vec_id").distinct().count() == n


def test_streaming_incremental_neardup_multifile_delta(
    spark, sf_dir, tmp_path_factory
):
    """ADVICE r05: pin the multi-file-delta semantics — each micro-batch
    equals the batch operator applied to the corpus PREFIX delivered so
    far (caps evaluated over that prefix), so the drained output is the
    union of per-prefix ``minhash_incremental_pairs`` calls, and replay
    from a fresh checkpoint adds nothing."""
    from whale_sightings_spark.operators.dedup import minhash_incremental_pairs
    from whale_sightings_spark.streaming.events import streaming_incremental_neardup

    s1, s2 = 400, 450
    base = tmp_path_factory.mktemp("inc_neardup_multi")
    docs_dir = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    import time

    for lo, hi in [(None, s1), (s1, s2), (s2, None)]:
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        part.coalesce(1).write.parquet(docs_dir, mode="append")
        time.sleep(1.1)
    state_dir = str(base / "state")
    out_dir = str(base / "out")
    streaming_incremental_neardup(
        spark, docs_dir, state_dir, out_dir, str(base / "ckpt1")
    )

    got = sorted(
        tuple(r)
        for r in spark.read.schema("doc_new long, doc_hist long, jaccard double")
        .parquet(out_dir)
        .collect()
    )
    b2 = minhash_incremental_pairs(docs.filter(F.col("doc_id") < s2), s1)
    b3 = minhash_incremental_pairs(docs, s2)
    want = sorted(
        tuple(r)
        for r in b2.unionByName(b3)
        .select("doc_new", "doc_hist", "jaccard")
        .collect()
    )
    assert got == want and len(got) > 0

    streaming_incremental_neardup(
        spark, docs_dir, state_dir, out_dir, str(base / "ckpt2")
    )
    after = spark.read.schema(
        "doc_new long, doc_hist long, jaccard double"
    ).parquet(out_dir)
    assert sorted(tuple(r) for r in after.collect()) == got


def test_streaming_ivfpq_encode_matches_batch_and_replays(
    spark, sf_dir, tmp_path_factory
):
    """The foreachBatch IVF-PQ encode twin: (a) drained-stream code
    rows, regrouped to (vec_id, cell, codes, recon), equal the q174
    batch operator's when the first file holds the history; (b) replay
    from a fresh checkpoint appends nothing (idempotent
    at-least-once)."""
    from whale_sightings_spark.operators.similarity import (
        ivfpq_incremental_encode,
    )
    from whale_sightings_spark.streaming.events import streaming_ivfpq_encode

    split = 400
    base = tmp_path_factory.mktemp("ivfpq_encode")
    emb_dir = str(base / "emb")
    emb = load_table(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < split).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )
    import time

    time.sleep(1.1)
    emb.filter(F.col("vec_id") >= split).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )
    state_dir = str(base / "state")
    streaming_ivfpq_encode(spark, emb_dir, state_dir, str(base / "ckpt1"))

    state = spark.read.schema(
        "vec_id long, cell bigint, s int, cid bigint, d2 double"
    ).parquet(state_dir + "/codes")
    got = sorted(
        tuple(r)
        for r in state.groupBy("vec_id", "cell")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "cid"))),
                    lambda x: x.cid.cast("string"),
                ),
                ",",
            ).alias("codes"),
            F.round(F.sqrt(F.sum("d2")), 6).alias("recon"),
        )
        .select("vec_id", "cell", "codes", "recon")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in ivfpq_incremental_encode(emb, split)
        .select("vec_id", "cell", "codes", "recon")
        .collect()
    )
    assert got == want and len(got) == emb.count()

    streaming_ivfpq_encode(spark, emb_dir, state_dir, str(base / "ckpt2"))
    after = spark.read.schema(
        "vec_id long, cell bigint, s int, cid bigint, d2 double"
    ).parquet(state_dir + "/codes")
    assert after.count() == state.count()


def test_streaming_bpe_ingest_matches_batch_and_replays(
    spark, sf_dir, tmp_path_factory
):
    """The foreachBatch BPE-ingest twin: (a) the merge table trained
    from the drained word-count state equals the batch operator's
    EXACTLY — word counts are algebraic, so unlike the near-dup twin
    this holds for ANY micro-batch split, pinned here with a 3-file
    delta; (b) replay from a fresh checkpoint changes nothing."""
    from whale_sightings_spark.operators.bpe import bpe_train
    from whale_sightings_spark.streaming.events import (
        bpe_train_from_state,
        streaming_bpe_ingest,
    )

    base = tmp_path_factory.mktemp("bpe_ingest")
    docs_dir = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    for lo, hi in ((0, 15), (15, 35), (35, 10**9)):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(docs_dir, mode="append")

    state_dir = str(base / "state")
    streaming_bpe_ingest(spark, docs_dir, state_dir, str(base / "ckpt1"))

    got_merges, _ = bpe_train_from_state(spark, state_dir)
    want_merges, _ = bpe_train(docs)
    assert got_merges == want_merges and len(got_merges) > 0

    # replay: fresh checkpoint, same files — doc_id anti-join makes it
    # a no-op; state row count and trained merges are unchanged
    n_before = spark.read.parquet(state_dir + "/wordcounts").count()
    streaming_bpe_ingest(spark, docs_dir, state_dir, str(base / "ckpt2"))
    assert spark.read.parquet(state_dir + "/wordcounts").count() == n_before
    again, _ = bpe_train_from_state(spark, state_dir)
    assert again == want_merges


def test_streaming_transition_counts_match_batch_and_replay(
    spark, sf_dir, tmp_path_factory
):
    """The foreachBatch transition-mining twin: with time-partitioned
    micro-batch files (the log-ingest layout), drained transition
    counts equal q195's exactly — boundary transitions across batch
    seams are stitched via the per-user frontier state. Replay from a
    fresh checkpoint is a no-op."""
    from whale_sightings_spark.plans.queries import queries
    from whale_sightings_spark.streaming.events import (
        streaming_transition_counts,
        transition_counts_from_state,
    )

    base = tmp_path_factory.mktemp("trans_ingest")
    ev_dir = str(base / "events")
    ev = load_table(spark, sf_dir, "events")
    cuts = ("2024-01-11", "2024-01-21")
    parts = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    for p in parts:
        p.coalesce(1).write.parquet(ev_dir, mode="append")

    state_dir = str(base / "state")
    streaming_transition_counts(spark, ev_dir, state_dir, str(base / "ckpt1"))

    got = sorted(
        tuple(r) for r in transition_counts_from_state(spark, state_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in queries()["q195_transition_lift"](spark, sf_dir)
        .select("src_type", "dst_type", "n_trans")
        .collect()
    )
    assert got == want and len(got) > 0

    streaming_transition_counts(spark, ev_dir, state_dir, str(base / "ckpt2"))
    again = sorted(
        tuple(r) for r in transition_counts_from_state(spark, state_dir).collect()
    )
    assert again == want


def test_streaming_ivfpq_index_ingest_full_loop(spark, sf_dir, tmp_path_factory):
    """Round-7 (VERDICT r6 #4): the full index-maintenance loop on ONE
    persisted artifact — build over history -> ingest deltas as a
    stream (encoded against the STORED codebooks, appended in the cell
    layout) -> serve. (a) The grown store's codes equal the
    stored-codebook incremental encode of the full corpus; (b) replay
    from a fresh checkpoint appends nothing; (c) the post-ingest probe
    still reads the code table through a cell partition filter."""
    import re
    import time

    from whale_sightings_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_encode_from_index,
        ivfpq_topk_from_index,
        read_ivfpq_index,
    )
    from whale_sightings_spark.streaming.events import (
        streaming_ivfpq_index_ingest,
    )

    split = 400
    base = tmp_path_factory.mktemp("ivfpq_index_ingest")
    emb = load_table(spark, sf_dir, "embeddings")
    index_dir = str(base / "index")
    build_ivfpq_index(emb.filter(F.col("vec_id") < split), index_dir)

    emb_dir = str(base / "deltas")
    mid = split + 50
    emb.filter(
        (F.col("vec_id") >= split) & (F.col("vec_id") < mid)
    ).coalesce(1).write.parquet(emb_dir, mode="append")
    time.sleep(1.1)
    emb.filter(F.col("vec_id") >= mid).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )

    streaming_ivfpq_index_ingest(spark, emb_dir, index_dir, str(base / "ckpt1"))

    def stored_codes():
        _c, _r, codes = read_ivfpq_index(spark, index_dir)
        return codes.groupBy(
            "vec_id", F.col("cell").cast("long").alias("cell")
        ).agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "cid"))),
                    lambda x: x.cid.cast("string"),
                ),
                ",",
            ).alias("codes")
        )

    got = sorted(tuple(r) for r in stored_codes().collect())
    want = sorted(
        tuple(r)
        for r in ivfpq_encode_from_index(spark, emb, index_dir)
        .select("vec_id", "cell", "codes")
        .collect()
    )
    assert got == want and len(got) == emb.count()

    streaming_ivfpq_index_ingest(spark, emb_dir, index_dir, str(base / "ckpt2"))
    assert stored_codes().count() == len(got)

    served = ivfpq_topk_from_index(spark, emb, index_dir)
    plan = served.sparkSession._jvm.PythonSQLUtils.explainString(
        served._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    assert served.count() > 0


def test_ivfpq_index_compaction_after_ingest(spark, sf_dir, tmp_path_factory):
    """Lifecycle completion: build -> ingest (fragmenting appends) ->
    COMPACT -> serve. Compaction must reduce per-cell file counts,
    preserve the code rows exactly, and leave the probe's partition
    pruning intact."""
    import re
    import time

    from whale_sightings_spark.operators.similarity import (
        build_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_topk_from_index,
        read_ivfpq_index,
    )
    from whale_sightings_spark.streaming.events import (
        streaming_ivfpq_index_ingest,
    )

    split = 400
    base = tmp_path_factory.mktemp("ivfpq_compact")
    emb = load_table(spark, sf_dir, "embeddings")
    index_dir = str(base / "index")
    build_ivfpq_index(emb.filter(F.col("vec_id") < split), index_dir)

    emb_dir = str(base / "deltas")
    for lo, hi in ((split, split + 30), (split + 30, split + 60), (split + 60, 10**9)):
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.parquet(emb_dir, mode="append")
        time.sleep(1.1)
    streaming_ivfpq_index_ingest(spark, emb_dir, index_dir, str(base / "ckpt"))

    def rows():
        _c, _r, codes = read_ivfpq_index(spark, index_dir)
        return sorted(
            (r["vec_id"], int(r["cell"]), r["s"], r["cid"])
            for r in codes.collect()
        )

    want = rows()
    stats = compact_ivfpq_index(spark, index_dir)
    assert stats["files_after"] < stats["files_before"], stats
    assert stats["rows"] == len(want)
    assert rows() == want

    served = ivfpq_topk_from_index(spark, emb, index_dir)
    plan = served.sparkSession._jvm.PythonSQLUtils.explainString(
        served._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    assert served.count() > 0


def test_streaming_transition_counts_heal_torn_write(
    spark, sf_dir, tmp_path_factory
):
    """ADVICE r6 torn-write fix, pinned by SIMULATING the tear: run the
    stream, then delete the LAST batch's deltas rows while leaving its
    frontier rows in place (exactly the state a crash between the two
    writes leaves, since the frontier is written first). Replay must
    re-process that batch — the guard keys on deltas — and converge to
    the batch-exact counts, not silently skip with a stale frontier."""
    import glob
    import os

    from whale_sightings_spark.plans.queries import queries
    from whale_sightings_spark.streaming.events import (
        streaming_transition_counts,
        transition_counts_from_state,
    )

    base = tmp_path_factory.mktemp("trans_tear")
    ev_dir = str(base / "events")
    ev = load_table(spark, sf_dir, "events")
    cuts = ("2024-01-11", "2024-01-21")
    for p in (
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ):
        p.coalesce(1).write.parquet(ev_dir, mode="append")

    state_dir = str(base / "state")
    streaming_transition_counts(spark, ev_dir, state_dir, str(base / "ckpt1"))
    deltas_dir = state_dir + "/deltas"
    dschema = "batch_id long, src_type string, dst_type string, n long"
    last = (
        spark.read.schema(dschema)
        .parquet(deltas_dir)
        .agg(F.max("batch_id"))
        .collect()[0][0]
    )
    # tear: drop the last batch's deltas, keep its frontier rows
    keep = (
        spark.read.schema(dschema)
        .parquet(deltas_dir)
        .filter(F.col("batch_id") < last)
        .collect()
    )
    for f in glob.glob(os.path.join(deltas_dir, "*.parquet")):
        os.remove(f)
    spark.createDataFrame(keep, dschema).coalesce(1).write.mode(
        "append"
    ).parquet(deltas_dir)

    streaming_transition_counts(spark, ev_dir, state_dir, str(base / "ckpt2"))
    got = sorted(
        tuple(r) for r in transition_counts_from_state(spark, state_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in queries()["q195_transition_lift"](spark, sf_dir)
        .select("src_type", "dst_type", "n_trans")
        .collect()
    )
    assert got == want and len(got) > 0


def test_streaming_ivfpq_encode_heals_torn_codebook_write(
    spark, sf_dir, tmp_path_factory
):
    """The companion tear: coarse codebook persisted, residual write
    lost (crash between the two writes). The train-once branch keys on
    the RESIDUAL codebook, so the next run retrains BOTH
    (overwrite-mode keeps it idempotent) and encodes normally instead
    of serving permanently empty encodes."""
    import shutil

    from whale_sightings_spark.operators.similarity import (
        ivfpq_incremental_encode,
    )
    from whale_sightings_spark.streaming.events import streaming_ivfpq_encode

    split = 400
    base = tmp_path_factory.mktemp("ivfpq_tear")
    emb_dir = str(base / "emb")
    emb = load_table(spark, sf_dir, "embeddings")
    import time

    emb.filter(F.col("vec_id") < split).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )
    time.sleep(1.1)
    emb.filter(F.col("vec_id") >= split).coalesce(1).write.parquet(
        emb_dir, mode="append"
    )
    state_dir = str(base / "state")
    streaming_ivfpq_encode(spark, emb_dir, state_dir, str(base / "ckpt1"))
    # tear: wipe the residual codebook AND the codes (as if the crash
    # hit before any encode landed), keep the coarse codebook
    shutil.rmtree(state_dir + "/residual_codebook")
    shutil.rmtree(state_dir + "/codes")
    streaming_ivfpq_encode(spark, emb_dir, state_dir, str(base / "ckpt2"))

    state = spark.read.schema(
        "vec_id long, cell bigint, s int, cid bigint, d2 double"
    ).parquet(state_dir + "/codes")
    got = sorted(
        tuple(r)
        for r in state.groupBy("vec_id", "cell")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "cid"))),
                    lambda x: x.cid.cast("string"),
                ),
                ",",
            ).alias("codes"),
            F.round(F.sqrt(F.sum("d2")), 6).alias("recon"),
        )
        .select("vec_id", "cell", "codes", "recon")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in ivfpq_incremental_encode(emb, split)
        .select("vec_id", "cell", "codes", "recon")
        .collect()
    )
    assert got == want and len(got) == emb.count()


def test_streaming_ngram_novelty_matches_batch_and_replays(
    spark, sf_dir, tmp_path_factory
):
    """q207's streaming twin: with doc_id-ordered file deliveries the
    drained per-doc output aggregates to exactly the batch q207 answer;
    replaying the whole corpus from a fresh checkpoint changes nothing
    (out partitions idempotently overwritten, seen-shingles anti-join)."""
    from whale_sightings_spark.plans.queries import queries
    from whale_sightings_spark.streaming.events import (
        ngram_novelty_from_out,
        streaming_ngram_novelty,
    )

    base = tmp_path_factory.mktemp("ngram_novelty")
    docs_dir = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    import time

    s1, s2 = 400, 450
    for lo, hi in [(None, s1), (s1, s2), (s2, None)]:
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        part.coalesce(1).write.parquet(docs_dir, mode="append")
        time.sleep(1.1)

    state_dir = str(base / "state")
    out_dir = str(base / "out")
    streaming_ngram_novelty(
        spark, docs_dir, state_dir, out_dir, str(base / "ckpt1")
    )

    got = sorted(
        tuple(r) for r in ngram_novelty_from_out(spark, out_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in queries()["q207_ngram_novelty"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0

    # replay from a fresh checkpoint: fully-applied batches are skipped
    # (or recomputed idempotently), nothing double-counts
    streaming_ngram_novelty(
        spark, docs_dir, state_dir, out_dir, str(base / "ckpt2")
    )
    after = sorted(
        tuple(r) for r in ngram_novelty_from_out(spark, out_dir).collect()
    )
    assert after == got


def test_streaming_ngram_novelty_heals_torn_state_write(
    spark, sf_dir, tmp_path_factory
):
    """Simulate the one tear the write order allows (out partition
    written, state append lost): drop the last batch's state rows, keep
    its out partition. Replay must re-process that batch — the guard
    keys on state, the LAST artifact — overwrite the same out partition
    idempotently, and converge to the batch-exact q207 answer."""
    import glob
    import os

    from whale_sightings_spark.plans.queries import queries
    from whale_sightings_spark.streaming.events import (
        ngram_novelty_from_out,
        streaming_ngram_novelty,
    )

    base = tmp_path_factory.mktemp("ngram_novelty_tear")
    docs_dir = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    import time

    for lo, hi in [(None, 420), (420, None)]:
        part = docs
        if lo is not None:
            part = part.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        part.coalesce(1).write.parquet(docs_dir, mode="append")
        time.sleep(1.1)

    state_dir = str(base / "state")
    out_dir = str(base / "out")
    streaming_ngram_novelty(
        spark, docs_dir, state_dir, out_dir, str(base / "ckpt1")
    )

    sschema = "shingle string, batch_id long"
    st = spark.read.schema(sschema).parquet(state_dir)
    last = st.agg(F.max("batch_id")).collect()[0][0]
    keep = st.filter(F.col("batch_id") < last).collect()
    for f in glob.glob(os.path.join(state_dir, "*.parquet")):
        os.remove(f)
    spark.createDataFrame(keep, sschema).coalesce(1).write.mode(
        "append"
    ).parquet(state_dir)

    streaming_ngram_novelty(
        spark, docs_dir, state_dir, out_dir, str(base / "ckpt2")
    )
    got = sorted(
        tuple(r) for r in ngram_novelty_from_out(spark, out_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in queries()["q207_ngram_novelty"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_ks_ingest_matches_batch_and_replays(
    spark, sf_dir, tmp_path_factory
):
    """q205's streaming twin: length-histogram evidence is algebraic,
    so the KS report from the drained state equals the batch query for
    ANY micro-batch split; replay from a fresh checkpoint appends
    nothing (doc_id anti-join)."""
    from whale_sightings_spark.plans.queries import queries
    from whale_sightings_spark.streaming.events import (
        ks_from_state,
        streaming_ks_ingest,
    )

    base = tmp_path_factory.mktemp("ks_ingest")
    docs_dir = str(base / "docs")
    docs = load_table(spark, sf_dir, "documents")
    import time

    # deliberately NON-prefix split (KS has no order dependence)
    for pred in (
        F.col("doc_id") % 3 == 0,
        F.col("doc_id") % 3 == 1,
        F.col("doc_id") % 3 == 2,
    ):
        docs.filter(pred).coalesce(1).write.parquet(docs_dir, mode="append")
        time.sleep(1.1)

    state_dir = str(base / "state")
    streaming_ks_ingest(spark, docs_dir, state_dir, str(base / "ckpt1"))
    got = sorted(
        tuple(r) for r in ks_from_state(spark, state_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in queries()["q205_ks_source_drift"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0

    streaming_ks_ingest(spark, docs_dir, state_dir, str(base / "ckpt2"))
    after = sorted(
        tuple(r) for r in ks_from_state(spark, state_dir).collect()
    )
    assert after == got


def test_streaming_shingle_index_ingest_full_loop(spark, sf_dir, tmp_path_factory):
    """Round-8: the shingle index gets the IVF-PQ lifecycle — build
    over history -> stream-ingest delta docs into the stored bucket
    layout -> serve. (a) Every stored table equals a fresh full-corpus
    build (postings/doc_stats exactly; df via sum-at-read; src5 via
    distinct-at-read); (b) replay from a fresh checkpoint appends
    nothing; (c) the grown store still serves a bucket-pruned probe."""
    import re
    import time

    from whale_sightings_spark.operators import shingles as SH
    from whale_sightings_spark.streaming.events import (
        streaming_shingle_index_ingest,
    )

    base = tmp_path_factory.mktemp("shingle_ingest")
    docs = load_table(spark, sf_dir, "documents")
    split, mid = _id_splits(docs, 0.7, 0.85)
    art = str(base / "index")
    SH.build_shingle_artifact(docs.filter(F.col("doc_id") < split), art)

    docs_dir = str(base / "deltas")
    docs.filter(
        (F.col("doc_id") >= split) & (F.col("doc_id") < mid)
    ).coalesce(1).write.parquet(docs_dir, mode="append")
    time.sleep(1.1)
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )

    streaming_shingle_index_ingest(spark, docs_dir, art, str(base / "ck1"))

    full = str(base / "full")
    SH.build_shingle_artifact(docs, full)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got_post = rows(
        SH.stored_postings(spark, art).select("doc_id", "source", "shingle")
    )
    want_post = rows(
        SH.stored_postings(spark, full).select("doc_id", "source", "shingle")
    )
    assert got_post == want_post and len(got_post) > 0
    assert rows(SH.stored_df(spark, art)) == rows(SH.stored_df(spark, full))
    assert rows(SH.stored_doc_stats(spark, art)) == rows(
        SH.stored_doc_stats(spark, full)
    )
    assert rows(SH.stored_src5(spark, art)) == rows(
        SH.stored_src5(spark, full)
    )

    # replay: fresh checkpoint, same files — anti-join appends nothing
    streaming_shingle_index_ingest(spark, docs_dir, art, str(base / "ck2"))
    assert (
        SH.stored_postings(spark, art).count() == len(got_post)
    )

    # the grown store still serves the partition-pruned probe shape
    probe = SH.stored_postings(spark, art).filter(
        F.col("bucket").isin([0, 1, 2])
    )
    plan = probe.sparkSession._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan


def test_streaming_lm_ingest_full_loop(spark, sf_dir, tmp_path_factory):
    """Round-8: the n-gram LM store gets the shingle-index lifecycle —
    build over history -> stream-ingest delta docs -> serve. (a) Every
    stored table equals a fresh full-corpus build (per-doc tables
    exactly; aggregated tables via sum-at-read — counts are additive,
    so partial stacking is exact); (b) replay from a fresh checkpoint
    appends nothing; (c) the grown store still serves a bucket-pruned
    probe."""
    import re
    import time

    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.streaming.events import streaming_lm_ingest

    base = tmp_path_factory.mktemp("lm_ingest")
    docs = load_table(spark, sf_dir, "documents")
    split, mid = _id_splits(docs, 0.7, 0.85)
    art = str(base / "lm")
    LM.build_lm_artifact(docs.filter(F.col("doc_id") < split), art)

    docs_dir = str(base / "deltas")
    docs.filter(
        (F.col("doc_id") >= split) & (F.col("doc_id") < mid)
    ).coalesce(1).write.parquet(docs_dir, mode="append")
    time.sleep(1.1)
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )

    streaming_lm_ingest(spark, docs_dir, art, str(base / "ck1"))

    full = str(base / "full")
    LM.build_lm_artifact(docs, full)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got_big = rows(
        LM.stored_doc_big(spark, art).select("doc_id", "w1", "w2", "n")
    )
    want_big = rows(
        LM.stored_doc_big(spark, full).select("doc_id", "w1", "w2", "n")
    )
    assert got_big == want_big and len(got_big) > 0
    assert rows(
        LM.stored_doc_uni(spark, art).select("doc_id", "source", "tok", "n")
    ) == rows(
        LM.stored_doc_uni(spark, full).select("doc_id", "source", "tok", "n")
    )
    assert rows(
        LM.stored_doc_tri(spark, art).select("doc_id", "w1", "w2", "w3", "n")
    ) == rows(
        LM.stored_doc_tri(spark, full).select("doc_id", "w1", "w2", "w3", "n")
    )
    for reader in (
        LM.stored_uni,
        LM.stored_uni_train,
        LM.stored_pairs,
        LM.stored_pairs_train,
        LM.stored_tri_train,
    ):
        assert rows(reader(spark, art)) == rows(reader(spark, full)), (
            reader.__name__
        )

    # replay: fresh checkpoint, same files — anti-join appends nothing
    streaming_lm_ingest(spark, docs_dir, art, str(base / "ck2"))
    assert LM.stored_doc_big(spark, art).count() == len(got_big)

    # the grown store still serves the partition-pruned probe shape
    probe = LM.stored_doc_big(spark, art).filter(
        F.col("bucket").isin([0, 1, 2])
    )
    plan = probe.sparkSession._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan


def test_streaming_source_kl_matches_batch_and_reports_oov(
    spark, tmp_path_factory
):
    """Per-batch source-KL against the STORED LM: (a) every streamed
    batch_id partition equals the batch operator applied to that
    file's documents (stateless ⇒ stream==batch by construction,
    asserted anyway); (b) OOV tokens reduce in_vocab_share instead of
    crashing the KL; (c) an all-OOV source reports NULL kl_nats."""
    import time

    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.streaming.events import streaming_source_kl

    base = tmp_path_factory.mktemp("src_kl")
    hist = spark.createDataFrame(
        [
            (0, "a", "the whale swims the whale swims"),
            (1, "a", "the whale rests"),
            (2, "b", "a whale swims far away"),
            (3, "b", "the far whale"),
        ],
        "doc_id long, source string, text string",
    )
    art = str(base / "lm")
    LM.build_lm_artifact(hist, art)

    batch1 = [
        (10, "a", "the whale swims"),          # fully in-vocab
        (11, "b", "the whale zzz qqq"),        # half OOV
    ]
    batch2 = [
        (12, "c", "xxxx yyyy zzzz"),           # all OOV -> NULL kl
        (13, "a", "far away the whale rests"),
    ]
    docs_dir = str(base / "deltas")
    spark.createDataFrame(
        batch1, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(docs_dir, mode="append")
    time.sleep(1.1)
    spark.createDataFrame(
        batch2, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(docs_dir, mode="append")

    out = str(base / "out")
    streaming_source_kl(spark, docs_dir, art, out, str(base / "ck"))

    import glob
    import os

    parts = sorted(glob.glob(os.path.join(out, "batch_id=*")))
    assert len(parts) == 2

    def rows(df):
        return sorted(
            (r["source"], r["n_tokens"], r["in_vocab_share"], r["kl_nats"])
            for r in df.collect()
        )

    streamed_all = []
    for p in parts:
        streamed_all.append(
            rows(
                spark.read.parquet(p).select(
                    "source", "n_tokens", "in_vocab_share", "kl_nats"
                )
            )
        )
    # batches may arrive in either file order — compare as a set of
    # per-batch reports against both direct computations
    direct = [
        rows(
            LM.source_kl_vs_stored(
                spark.createDataFrame(
                    b, "doc_id long, source string, text string"
                ),
                spark,
                art,
            )
        )
        for b in (batch1, batch2)
    ]
    assert sorted(map(str, streamed_all)) == sorted(map(str, direct))
    # the all-OOV source reports NULL kl and zero in-vocab share
    flat = [t for b in streamed_all for t in b]
    c_row = [t for t in flat if t[0] == "c"]
    assert c_row and c_row[0][2] == 0.0 and c_row[0][3] is None
    # the half-OOV source keeps a finite KL on reduced support
    b_row = [t for t in flat if t[0] == "b"]
    assert b_row and 0.0 < b_row[0][2] < 1.0 and b_row[0][3] is not None


def test_streaming_bm25_score_matches_batch_and_keeps_zero_match_docs(
    spark, tmp_path_factory
):
    """Streaming BM25 against the STORED index (round 9): (a) every
    streamed batch_id partition equals the batch operator applied to
    that file's documents (stateless scoring ⇒ stream==batch by
    construction, asserted anyway); (b) arriving docs matching no
    query term are kept with score 0.0; (c) df/avgdl come from the
    STORE — scoring the same doc in either batch yields the identical
    score (order independence)."""
    import glob
    import os
    import time

    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.streaming.events import streaming_bm25_score

    base = tmp_path_factory.mktemp("bm25_stream")
    hist = spark.createDataFrame(
        [
            (0, "a", "the whale swims the whale swims"),
            (1, "a", "the whale rests"),
            (2, "b", "a whale swims far away"),
            (3, "b", "the far whale"),
        ],
        "doc_id long, source string, text string",
    )
    art = str(base / "lm")
    LM.build_lm_artifact(hist, art)

    terms = ("whale", "far")
    batch1 = [
        (10, "a", "the whale swims"),     # matches 'whale'
        (11, "b", "nothing relevant"),    # zero-match, kept at 0.0
    ]
    batch2 = [
        (12, "c", "far far away a whale"),
        (13, "a", "the whale swims"),     # same text as doc 10
    ]
    docs_dir = str(base / "deltas")
    spark.createDataFrame(
        batch1, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(docs_dir, mode="append")
    time.sleep(1.1)
    spark.createDataFrame(
        batch2, "doc_id long, source string, text string"
    ).coalesce(1).write.parquet(docs_dir, mode="append")

    out = str(base / "out")
    streaming_bm25_score(
        spark, docs_dir, art, out, str(base / "ck"), terms=terms
    )

    parts = sorted(glob.glob(os.path.join(out, "batch_id=*")))
    assert len(parts) == 2

    def rows(df):
        return sorted(
            (r["doc_id"], r["source"], r["len"], r["n_matched"], r["score"])
            for r in df.select(
                "doc_id", "source", "len", "n_matched", "score"
            ).collect()
        )

    streamed_all = [rows(spark.read.parquet(p)) for p in parts]
    direct = [
        rows(
            LM.bm25_score_docs_from_store(
                spark.createDataFrame(
                    b, "doc_id long, source string, text string"
                ),
                spark,
                art,
                terms,
            )
        )
        for b in (batch1, batch2)
    ]
    assert sorted(map(str, streamed_all)) == sorted(map(str, direct))
    flat = {t[0]: t for b in streamed_all for t in b}
    # zero-match doc kept at score 0.0 with its true length
    assert flat[11][3] == 0 and flat[11][4] == 0.0 and flat[11][2] == 2
    # identical text scores identically regardless of arrival batch —
    # the stats side is the frozen store, not the stream
    assert flat[10][4] == flat[13][4] and flat[10][4] > 0
    # both query terms matched for doc 12
    assert flat[12][3] == 2


def test_shingle_compaction_preserves_readers_and_defrags(
    spark, sf_dir, tmp_path_factory
):
    """build -> stream-ingest -> COMPACT -> serve (round 9, the
    compact_lm_store recipe on the shingle index): compaction must be
    semantically invisible to every reader, collapse the df partials
    to one row per shingle, reduce file count, and preserve the
    bucket-partitioned pruned-probe layout."""
    import re
    import time

    from whale_sightings_spark.operators import shingles as SH
    from whale_sightings_spark.plans.store_utils import ingest_batch_dirs
    from whale_sightings_spark.streaming.events import (
        streaming_shingle_index_ingest,
    )

    base = tmp_path_factory.mktemp("shingle_compact")
    docs = load_table(spark, sf_dir, "documents")
    split, mid = _id_splits(docs, 0.7, 0.85)
    art = str(base / "index")
    SH.build_shingle_artifact(docs.filter(F.col("doc_id") < split), art)
    docs_dir = str(base / "deltas")
    docs.filter(
        (F.col("doc_id") >= split) & (F.col("doc_id") < mid)
    ).coalesce(1).write.parquet(docs_dir, mode="append")
    time.sleep(1.1)
    docs.filter(F.col("doc_id") >= mid).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    streaming_shingle_index_ingest(spark, docs_dir, art, str(base / "ck"))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    readers = (
        lambda: SH.stored_postings(spark, art).select(
            "doc_id", "source", "shingle"
        ),
        lambda: SH.stored_df(spark, art),
        lambda: SH.stored_doc_stats(spark, art),
        lambda: SH.stored_src5(spark, art),
        lambda: SH.stored_doc_ids(spark, art),
    )
    before = [rows(r()) for r in readers]
    stats = SH.compact_shingle_store(spark, art)
    after = [rows(r()) for r in readers]
    assert after == before
    # at test SF the bucket-partitioned rewrite can balance the removed
    # batch files one-for-one; the hard claims are the fold itself
    # (batch dirs gone, df collapsed) and reader invisibility
    assert stats["files_after"] <= stats["files_before"]
    # df now holds ONE row per shingle on disk
    raw_df = spark.read.parquet(art + "/df")
    assert raw_df.groupBy("shingle").count().filter("count > 1").count() == 0
    # batch dirs folded away; pruned-probe layout survived
    assert ingest_batch_dirs(art) == []
    probe = SH.stored_postings(spark, art).filter(F.col("bucket").isin([0, 1]))
    plan = probe.sparkSession._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan


def test_shingle_torn_ingest_batch_is_invisible_and_replay_regenerates(
    spark, sf_dir, tmp_path_factory
):
    """Round 9: a shingle-ingest batch that crashes mid-write leaves
    only an ``ingest/.tmp.<id>`` staging dir — no reader and no
    seen-set observes ANY of its tables (the v1 failure mode appended
    postings, the anti-join key, in place: a crash then stranded the
    batch's sibling rows forever). The replayed trigger regenerates
    the batch whole."""
    import os

    from whale_sightings_spark.operators import shingles as SH
    from whale_sightings_spark.streaming.events import (
        streaming_shingle_index_ingest,
    )

    base = tmp_path_factory.mktemp("shingle_torn")
    docs = load_table(spark, sf_dir, "documents")
    (split,) = _id_splits(docs, 0.8)
    art = str(base / "index")
    SH.build_shingle_artifact(docs.filter(F.col("doc_id") < split), art)
    n_ids = SH.stored_doc_ids(spark, art).count()

    docs_dir = str(base / "deltas")
    delta = docs.filter(F.col("doc_id") >= split)
    delta.coalesce(1).write.parquet(docs_dir, mode="append")

    # simulate the torn batch: a half-written staging dir with the
    # anti-join-key table ALREADY populated
    staging = os.path.join(SH.shingle_ingest_root(art), ".tmp.0")
    delta.select(F.col("doc_id").cast("long")).distinct().write.parquet(
        os.path.join(staging, "doc_ids")
    )
    assert SH.stored_doc_ids(spark, art).count() == n_ids  # invisible

    streaming_shingle_index_ingest(spark, docs_dir, art, str(base / "ck"))
    full = str(base / "full")
    SH.build_shingle_artifact(docs, full)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        SH.stored_postings(spark, art).select("doc_id", "shingle")
    ) == rows(SH.stored_postings(spark, full).select("doc_id", "shingle"))
    assert rows(SH.stored_df(spark, art)) == rows(SH.stored_df(spark, full))
    assert rows(SH.stored_doc_ids(spark, art)) == rows(
        SH.stored_doc_ids(spark, full)
    )


def test_shingle_ingest_batch_failing_mid_write_leaves_no_staging(
    spark, sf_dir, tmp_path_factory, monkeypatch
):
    """A shingle-ingest batch that raises after its postings table is
    staged removes its staging dir on the way out: no ``.tmp.`` entry
    is left under ``ingest/`` and the seen-set is unchanged."""
    import os

    from whale_sightings_spark.operators import shingles as SH
    from whale_sightings_spark.streaming.events import (
        streaming_shingle_index_ingest,
    )

    split = 400  # sf0.001 holds doc_ids 0..499
    base = tmp_path_factory.mktemp("shingle_fail")
    docs = load_table(spark, sf_dir, "documents")
    art = str(base / "index")
    SH.build_shingle_artifact(docs.filter(F.col("doc_id") < split), art)
    ids_before = sorted(r[0] for r in SH.stored_doc_ids(spark, art).collect())
    docs_dir = str(base / "deltas")
    docs.filter(F.col("doc_id") >= split).coalesce(1).write.parquet(docs_dir)

    root = SH.shingle_ingest_root(art)
    staged = []
    real = SH._distinct_postings

    def fail_after_postings(batch, n):
        # the width-5 pass runs after postings, df and doc_stats are
        # written into the batch's staging dir
        if n == SH.SRC_SHINGLE_N:
            staged.extend(
                d for d in os.listdir(root)
                if os.path.isdir(os.path.join(root, d, "postings"))
            )
            raise RuntimeError("injected mid-batch failure")
        return real(batch, n)

    monkeypatch.setattr(SH, "_distinct_postings", fail_after_postings)
    with pytest.raises(Exception):
        streaming_shingle_index_ingest(spark, docs_dir, art, str(base / "ck"))
    assert staged, "the failure did not hit after postings were staged"
    assert [d for d in os.listdir(root) if ".tmp." in d] == []
    assert sorted(
        r[0] for r in SH.stored_doc_ids(spark, art).collect()
    ) == ids_before


def test_shingle_crashed_compaction_reads_as_absent_and_rebuilds(
    spark, tmp_path, monkeypatch
):
    """A COMPACTING sentinel left by a crashed shingle-store compaction
    makes the build-if-absent cache treat the store as absent and
    rebuild (the lm_store v2 contract on the fourth artifact)."""
    import os

    from whale_sightings_spark.plans.shingle_store import shingle_artifact_dir
    from whale_sightings_spark.plans.store_utils import compacting_sentinel

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    art = shingle_artifact_dir(spark, sf)
    marker = os.path.join(art, "src5", "_SUCCESS")
    mt0 = os.path.getmtime(marker)
    assert shingle_artifact_dir(spark, sf) == art  # cache hit
    assert os.path.getmtime(marker) == mt0
    with open(compacting_sentinel(art), "w") as fh:
        fh.write("12345")
    art2 = shingle_artifact_dir(spark, sf)
    assert art2 == art
    assert not os.path.exists(compacting_sentinel(art))
    assert os.path.getmtime(marker) > mt0


def test_shingle_ingest_seen_set_is_manifest_not_postings(
    spark, sf_dir, tmp_path_factory
):
    """The shingle ingest's seen-set reads the doc-id manifest
    (O(documents)), never the corpus-scale posting table."""
    from whale_sightings_spark.operators import shingles as SH

    base = tmp_path_factory.mktemp("shingle_seen")
    docs = load_table(spark, sf_dir, "documents")
    art = str(base / "index")
    SH.build_shingle_artifact(docs, art)
    ids = SH.stored_doc_ids(spark, art)
    plan = ids.sparkSession._jvm.PythonSQLUtils.explainString(
        ids._jdf.queryExecution(), "formatted"
    )
    assert "doc_ids" in plan
    for table in ("postings", "doc_stats", "src5"):
        assert table not in plan, f"seen-set scans {table}:\n{plan}"
    assert ids.count() == docs.select("doc_id").distinct().count()
