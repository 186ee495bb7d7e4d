"""Streaming operators over the ``events`` stream (SURVEY.md §2.9).

The reference is strictly batch; this is the net-new Structured
Streaming surface the driver's testdata (``events``) exists for:

- tumbling / sliding window aggregation with watermarked late data
- session windows (gap-based)
- streaming dedup within the watermark (the streaming analog of the
  pipeline's U4 keep-first dedup)
- a custom stateful operator via ``applyInPandasWithState``

Every transformation is defined once on an unbounded-agnostic
DataFrame: the same function serves batch DataFrames (used by the
DuckDB-oracle queries — batch `window()`/`session_window()` have
identical semantics) and `readStream` DataFrames. Streaming tests
validate stream == batch recomputation (SURVEY §7.3.6: no reference
ground truth, batch is the oracle).

Micro-batch contract of the ``streaming_*`` twins of batch operators
(each takes a source dir and a ``checkpoint_dir`` and returns None):

- The source is a file replay: a parquet dir read one file per trigger
  (``maxFilesPerTrigger=1``), so each file is one micro-batch and
  files arrive in modification-time order.
- :func:`drain` runs the twin's ``apply_batch(batch_df, batch_id)``
  under ``foreachBatch`` with ``trigger(availableNow=True)`` and blocks
  until the backlog is processed.
- Delivery is at-least-once (a crash replays the batch), so every twin
  is idempotent in one of three ways:

  1. seen-set anti-join: rows whose key is already in the persisted
     state drop out before anything is appended;
  2. per-batch overwrite: a stateless twin writes only its own
     ``batch_id=N`` partition (:func:`write_batch_output`), so a replay
     rewrites identical rows;
  3. published sub-store: the batch's tables are staged and published
     by one atomic rename (``store_utils.publish``), so a torn batch is
     invisible and its replay regenerates it whole.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whale_sightings_spark.session import barrier

#: replay-zone schema: ts as TIMESTAMP (with-local-tz — watermarks
#: require it; session TZ is pinned UTC). The driver's original
#: events.parquet carries TIMESTAMP(NANOS) readable only via
#: schemas.load_table; stage it with stage_event_replay first.
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stage_event_replay(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> str:
    """Rewrite the events table into ``n_files`` **time-ordered**
    parquet files — the streaming replay zone (one micro-batch per file
    with maxFilesPerTrigger=1).

    Files are written sequentially in event-time order (FileStreamSource
    consumes by modification time), so the replay advances watermarks
    monotonically like a live stream; a round-robin split would feed the
    engine time-shuffled batches and watermarked operators would hold
    (or drop) most of the data.
    """
    from whale_sightings_spark.schemas import load_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    quantiles = [i / n_files for i in range(1, n_files)]
    bounds = events.select(
        F.percentile_approx(F.unix_micros("ts"), quantiles, 10000).alias("b")
    ).collect()[0]["b"] or []
    edges = [None, *bounds, None]
    for i in range(n_files):
        lo, hi = edges[i], edges[i + 1]
        part = events
        if lo is not None:
            part = part.filter(F.unix_micros("ts") >= lo)
        if hi is not None:
            part = part.filter(F.unix_micros("ts") < hi)
        mode = "overwrite" if i == 0 else "append"
        part.coalesce(1).write.mode(mode).parquet(out_dir)
    return out_dir

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_window_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window count/sum per event_type. Epoch-aligned windows
    (same alignment as date_trunc for whole-unit widths)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding-window event counts (each event lands in width/slide
    windows)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), TS_FMT).alias("window_start"),
            "event_type",
            "n",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessionization per user (session ends after ``gap`` of
    inactivity; session end = last event + gap)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), TS_FMT + ".SSSSSS").alias("session_start"),
            F.date_format(F.col("w.end"), TS_FMT + ".SSSSSS").alias("session_end"),
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# file-replay sources, the micro-batch driver and the runners
# ---------------------------------------------------------------------------

def _file_replay(spark: SparkSession, src_dir: str, schema) -> DataFrame:
    """``src_dir`` as a stream, one parquet file per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def read_event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-based replay of the events table as a stream, one file per
    micro-batch."""
    return _file_replay(spark, events_dir, EVENTS_STREAM_SCHEMA)


def drain(spark: SparkSession, src_dir: str, checkpoint_dir: str, apply_batch) -> None:
    """Feed every file in ``src_dir`` not yet recorded in
    ``checkpoint_dir`` to ``apply_batch(batch_df, batch_id)``, one file
    per call, and return once the backlog is processed."""
    (
        _file_replay(spark, src_dir, spark.read.parquet(src_dir).schema)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def write_batch_output(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Overwrite the ``out_dir/batch_id=N`` partition with ``df``.
    ``batch_id`` lives only in the directory name: a physical column of
    the same name would collide with partition inference when
    ``out_dir`` is read as a whole."""
    df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch_id={batch_id}"))


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
):
    """Drive a streaming DataFrame through the memory sink until all
    available input is processed; returns the StreamingQuery (caller
    reads ``SELECT * FROM {query_name}`` and stops it)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    return q


def streaming_tumbling_counts(
    spark: SparkSession, events_dir: str, width: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked streaming version of :func:`tumbling_window_counts`.

    The watermark bounds state: windows older than (max event time -
    watermark) are finalized and dropped from state — required for an
    unbounded stream at scale.
    """
    events = read_event_stream(spark, events_dir).withWatermark("ts", watermark)
    return tumbling_window_counts(events, width)


def streaming_dedup_within_watermark(
    spark: SparkSession, events_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming analog of the pipeline's U4 subset-key dedup:
    dropDuplicatesWithinWatermark on the dedup key — exactly-once per
    key within the watermark horizon, bounded state."""
    events = read_event_stream(spark, events_dir).withWatermark("ts", watermark)
    return events.dropDuplicatesWithinWatermark(["user_id", "event_type"])


def stateful_user_running_totals(
    spark: SparkSession, events_dir: str
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): running
    per-user event count + value total, emitted each micro-batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, round(total, 6)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    events = read_event_stream(spark, events_dir)
    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_running_totals_tws(
    spark: SparkSession, events_dir: str
) -> DataFrame:
    """The same running-totals operator on ``transformWithStateInPandas``
    (Spark 4's successor stateful API: composable named state, timers,
    TTL). Requires the RocksDB state store — the caller sets
    ``spark.sql.streaming.stateStore.providerClass``; RocksDB is also
    the provider you want at scale (incremental checkpointing, state
    larger than executor heap). Runtime additionally needs protobuf
    (the TWS state-server protocol), absent from this container — the
    parity test skips when the import fails; on a real cluster install
    ``protobuf`` alongside pyspark."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = "user_id long, n_events long, total_value double"

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._totals.update((n, round(total, 6)))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                }
            )

        def close(self) -> None:
            pass

    events = read_event_stream(spark, events_dir)
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def streaming_interval_join(
    spark: SparkSession,
    events_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: ``right_type`` events within
    ``within`` after a ``left_type`` event by the same user. Watermarks
    on BOTH sides + the time-range join condition let Spark expire
    buffered rows — bounded state on an unbounded stream (without them
    stream-stream joins accumulate forever)."""
    left = (
        read_event_stream(spark, events_dir)
        .filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .alias("l")
    )
    right = (
        read_event_stream(spark, events_dir)
        .filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .alias("r")
    )
    return left.join(
        right,
        F.expr(
            f"l.user_id = r.user_id AND r.ts >= l.ts "
            f"AND r.ts <= l.ts + INTERVAL {within}"
        ),
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
    )

def streaming_enrich_with_dim(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream joins a bounded dimension (broadcast — the static side is
    planned per micro-batch, never buffered as state). The canonical
    "decorate the fact stream with dim attributes" shape; at 100 TB
    the dim stays broadcastable and the stream side never shuffles.
    """
    events = read_event_stream(spark, events_dir).withWatermark("ts", watermark)
    return events.join(F.broadcast(dim), "event_type", "left").select(
        "event_id", "user_id", "event_type", "ts", "value", *dim.columns[1:]
    )


def streaming_left_outer_interval_join(
    spark: SparkSession,
    events_dir: str,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: clicks with their
    follow-up purchase, or NULL once the watermark proves no purchase
    can still arrive. The outer side emits only after (event-time -
    watermark) passes the join window — correctness depends on both
    watermarks plus the time-range condition, which also bound state.
    """
    left = (
        read_event_stream(spark, events_dir)
        .filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .alias("l")
    )
    right = (
        read_event_stream(spark, events_dir)
        .filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .alias("r")
    )
    return left.join(
        right,
        F.expr(
            f"l.user_id = r.user_id AND r.ts >= l.ts "
            f"AND r.ts <= l.ts + INTERVAL {within}"
        ),
        "left_outer",
    ).select(
        F.col("l.event_id").alias("click_id"),
        F.col("r.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of the q95 incremental dedup: each micro-batch of
    documents is deduped within itself (keep-min doc_id per
    fingerprint), anti-joined against the persisted fingerprint state,
    and only the survivors are appended to the state table.

    The state probe is O(batch) — history is only ever anti-joined,
    never rescanned or rewritten, exactly the batch operator's shape.
    Re-delivered batches are self-healing: fingerprints already in the
    state anti-join away, so at-least-once delivery converges to the
    same state (asserted by the replay test). The state table is read
    with an explicit schema, so an empty state dir is just an empty
    DataFrame — no filesystem-specific presence probe, works on any
    Hadoop-compatible FS. The state dir here is plain parquet append
    (non-transactional: a mid-append crash can leave partial part-files
    that poison the next read); production swaps in a transactional
    table format on shared storage — the plan shape is identical.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        fp = batch_df.select(
            "doc_id",
            F.md5(F.encode(F.lower(F.col("text")), "UTF-8")).alias("fingerprint"),
        )
        keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
        state = (
            sess.read.schema("doc_id long, fingerprint string")
            .parquet(state_dir)
            .select("fingerprint")
        )
        keep = keep.join(state, "fingerprint", "left_anti")
        keep.select("doc_id", "fingerprint").write.mode("append").parquet(state_dir)

    os.makedirs(state_dir, exist_ok=True)
    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def streaming_incremental_neardup(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of the q138 incremental near-dup: each micro-batch
    of documents probes the persisted band index of everything ingested
    BEFORE it, and the verified near-dup pairs (batch doc x history
    doc, exact Jaccard >= threshold) append to ``out_dir``. History x
    history pairs are never regenerated — per-batch cost is O(batch)
    band probes, q138's contract (within-batch pairs are likewise out
    of contract, exactly as q138 never pairs delta x delta).

    State is two set-semantics parquet tables under ``state_dir``:
    ``bands`` (doc_id, band — the probe index) and ``shingles``
    (doc_id, shingle — raw distinct pairs for exact verification; the
    shingle-df cap is applied at probe time over history-so-far plus
    the CURRENT batch, a prefix of the final corpus). Both caps mirror
    the batch operator: hot HISTORY band buckets (> MAX_BAND_BUCKET)
    are skipped, hot shingles (> MAX_SHINGLE_DF) dropped from
    verification.

    Cap caveat — drained output equals ``minhash_incremental_pairs``
    exactly only when the whole delta arrives in ONE micro-batch
    (the single-delta drain): with a multi-file delta, intermediate
    batches evaluate the df/bucket caps over a prefix corpus, so a
    shingle or band bucket that only crosses its cap once LATER files
    arrive is still used by earlier batches (and vice versa). Pairs
    whose shingles sit far from the cap thresholds are unaffected —
    ``tests/test_streaming.py`` pins both the single-delta equality
    and the multi-file-delta behavior.

    Re-delivery is self-healing at the ingest boundary: a batch doc
    whose id already sits in the band index anti-joins away before it
    probes or appends, so at-least-once delivery emits each pair once
    (seen-set anti-join). State reads are schema-pinned
    (empty dirs read as empty frames on any Hadoop-compatible FS) and
    de-duplicated, so a torn append degrades to a no-op on replay;
    production swaps the two state dirs for transactional tables — the
    probe plan is identical.
    """
    from whale_sightings_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        MAX_BAND_BUCKET,
        MAX_SHINGLE_DF,
        _banded_minhash,
        _shingled,
    )

    bands_dir = state_dir.rstrip("/") + "/bands"
    shingles_dir = state_dir.rstrip("/") + "/shingles"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        hb = (
            sess.read.schema("doc_id long, band string")
            .parquet(bands_dir)
            .distinct()
        )
        hs = (
            sess.read.schema("doc_id long, shingle string")
            .parquet(shingles_dir)
            .distinct()
        )
        # ingest-boundary idempotence: already-indexed docs drop out
        batch = batch_df.join(
            hb.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        bb = _banded_minhash(batch)
        bs = (
            _shingled(batch)
            .select("doc_id", F.explode_outer("shingles").alias("shingle"))
            .filter(F.col("shingle").isNotNull())
            .distinct()
        )
        kept = (
            hb.groupBy("band")
            .agg(F.count("*").alias("bn"))
            .filter(F.col("bn") <= MAX_BAND_BUCKET)
            .select("band")
        )
        cands = (
            bb.join(hb.join(kept, "band").withColumnRenamed("doc_id", "doc_hist"), "band")
            .select(F.col("doc_id").alias("doc_new"), "doc_hist")
            .distinct()
        )
        # df cap over corpus-so-far (history + this batch) — converges
        # to the batch operator's full-corpus cap when the backlog drains
        pairs = hs.unionByName(bs)
        fpairs = pairs.join(
            pairs.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= MAX_SHINGLE_DF)
            .select("shingle"),
            "shingle",
        )
        sizes = fpairs.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
        pn = fpairs.select(F.col("doc_id").alias("doc_new"), "shingle")
        ph = fpairs.select(F.col("doc_id").alias("doc_hist"), "shingle")
        inter = (
            cands.join(pn, "doc_new")
            .join(ph, ["doc_hist", "shingle"])
            .groupBy("doc_new", "doc_hist")
            .agg(F.count("*").alias("n_common"))
        )
        zn = sizes.select(F.col("doc_id").alias("doc_new"), F.col("n_shingles").alias("size_n"))
        zh = sizes.select(F.col("doc_id").alias("doc_hist"), F.col("n_shingles").alias("size_h"))
        out = (
            inter.join(zn, "doc_new")
            .join(zh, "doc_hist")
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_common")
                    / (F.col("size_n") + F.col("size_h") - F.col("n_common")),
                    6,
                ),
            )
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
            .select("doc_new", "doc_hist", "jaccard")
        )
        out.write.mode("append").parquet(out_dir)
        bb.select("doc_id", "band").write.mode("append").parquet(bands_dir)
        bs.write.mode("append").parquet(shingles_dir)

    os.makedirs(bands_dir, exist_ok=True)
    os.makedirs(shingles_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def _rank_seed(sub, k: int):
    """(s, cid, cvec) Lloyd seed from the first ``k`` vec_ids ACTUALLY
    PRESENT in ``sub`` (k-sized scalar collect + broadcast rank map;
    the identity when ids 0..k-1 are present, so drained-stream state
    still equals the batch operator's in the history-first layout).
    The trainer's default ``vec_id < k`` seed silently yields a
    partial/empty codebook when a micro-batch lacks the low ids —
    fail loudly instead of dropping vectors."""
    sess = sub.sparkSession
    seed_ids = sorted(
        r[0]
        for r in sub.select("vec_id").distinct().orderBy("vec_id").limit(k).collect()
    )
    if len(seed_ids) < k:
        raise ValueError(
            f"streaming codebook seed: first batch has only "
            f"{len(seed_ids)} vectors — need >= {k}; deliver a larger "
            "first batch"
        )
    map_df = sess.createDataFrame(
        [(int(v), i) for i, v in enumerate(seed_ids)],
        "vec_id long, cid bigint",
    )
    return sub.join(F.broadcast(map_df), "vec_id").select(
        "s", "cid", F.col("subvec").alias("cvec")
    )


def streaming_ivf_ingest(
    spark: SparkSession,
    emb_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of the q160 incremental index ingest: the FIRST
    micro-batch trains the coarse quantizer (the same bounded Lloyd
    jobs over its deterministic 1-in-PQ_TRAIN_MOD sample) and persists
    the dim-sized codebook; every batch — including the first — is then
    assigned against the PERSISTED codebook and its (vec_id, cell,
    batch_id) assignments append to state. Later batches never retrain:
    per-trigger cost is one broadcast-codebook argmin over batch rows,
    exactly the batch operator's contract, so drained-stream
    assignments equal ``ivf_incremental_ingest_audit``'s when the first
    file holds the history.

    Re-delivery is self-healing: already-assigned vec_ids anti-join
    away before assignment or append (seen-set anti-join); the
    codebook is written once and only read afterwards.
    State reads are schema-pinned (empty dirs = empty frames on any
    Hadoop-compatible FS); production swaps the two state dirs for
    transactional tables — the assign plan is identical.
    """
    from whale_sightings_spark.operators.similarity import (
        IVF_K,
        IVF_KMEANS_ROUNDS,
        IVF_TRAIN_MOD,
        _fulldim_sub,
        _lloyd_codebook,
        _pq_assign_to,
    )

    cb_dir = state_dir.rstrip("/") + "/codebook"
    assign_dir = state_dir.rstrip("/") + "/assignments"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = (
            sess.read.schema("vec_id long, cell long, batch_id long")
            .parquet(assign_dir)
            .select("vec_id")
            .distinct()
        )
        batch = batch_df.join(seen, "vec_id", "left_anti")
        cb = (
            sess.read.schema("s int, cid bigint, cvec array<double>")
            .parquet(cb_dir)
        )
        if cb.limit(1).isEmpty():
            # first batch: train on this batch's deterministic sample
            # and persist the IVF_K codebook once. Seed from the first
            # IVF_K vec_ids ACTUALLY PRESENT (k-sized scalar collect) —
            # the trainer's default vec_id < IVF_K seed silently yields
            # a partial/empty codebook when the batch doesn't contain
            # the low ids, and an empty codebook drops every vector
            # from the assignment state with no redelivery. When ids
            # 0..IVF_K-1 ARE present (the stream==batch test layout)
            # the rank map is the identity, so drained state still
            # equals the batch operator's.
            sub = _fulldim_sub(batch)
            cb = _lloyd_codebook(
                sub,
                IVF_K,
                IVF_KMEANS_ROUNDS,
                IVF_TRAIN_MOD,
                seed=_rank_seed(sub, IVF_K),
            )
            if cb.count() != IVF_K:
                raise ValueError(
                    "streaming_ivf_ingest: trained codebook is partial "
                    f"({cb.count()} of {IVF_K} cells) — refusing to "
                    "persist; the batch would be silently dropped"
                )
            cb.write.mode("append").parquet(cb_dir)
        assigned = _pq_assign_to(_fulldim_sub(batch), cb).select(
            "vec_id",
            F.col("cid").alias("cell"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        assigned.write.mode("append").parquet(assign_dir)

    os.makedirs(cb_dir, exist_ok=True)
    os.makedirs(assign_dir, exist_ok=True)
    drain(spark, emb_dir, checkpoint_dir, apply_batch)


def streaming_ivfpq_encode(
    spark: SparkSession,
    emb_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of the q174 incremental IVF-PQ encode: the FIRST
    micro-batch trains BOTH codebooks (coarse, then residual — the
    same bounded Lloyd jobs, rank-seeded so a batch without the low
    vec_ids still trains a complete codebook) and persists them; every
    batch — including the first — is then encoded against the
    PERSISTED codebooks: one broadcast coarse argmin, a row-local
    residual, one broadcast residual argmin — O(batch) per trigger,
    the q160 ingest contract extended to the full storage layout.
    State is the code table (vec_id, cell, s, cid, d2) appended per
    batch; drained-stream codes equal ``ivfpq_incremental_encode``'s
    when the first file holds the history (pinned in
    tests/test_streaming.py).

    Re-delivery is self-healing: already-encoded vec_ids anti-join
    away before encode or append (seen-set anti-join);
    the train-once branch keys on the residual codebook — the last of
    the two codebook writes — so a tear between them retrains both on
    replay (overwrite-mode writes keep that idempotent) instead of
    serving permanently empty encodes. Production swaps the state dirs
    for the ``build_ivfpq_index`` artifact layout (cell-partitioned
    codes) — the encode plan is identical.
    """
    from whale_sightings_spark.operators.similarity import (
        IVF_K,
        IVF_KMEANS_ROUNDS,
        IVF_TRAIN_MOD,
        PQ_K,
        PQ_KMEANS_ROUNDS,
        PQ_M,
        PQ_TRAIN_MOD,
        _fulldim_sub,
        _lloyd_codebook,
        _pq_assign_to,
        _split_subspaces,
    )

    base = state_dir.rstrip("/")
    coarse_dir = base + "/coarse_codebook"
    rcb_dir = base + "/residual_codebook"
    codes_dir = base + "/codes"
    cb_schema = "s int, cid bigint, cvec array<double>"

    def _residuals(sub, coarse):
        assigned = _pq_assign_to(sub, coarse)
        return assigned.join(F.broadcast(coarse), ["s", "cid"]).select(
            "vec_id",
            F.col("cid").alias("cell"),
            F.zip_with("subvec", "cvec", lambda a, b: a - b).alias("rvec"),
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = (
            sess.read.schema("vec_id long, cell bigint, s int, cid bigint, d2 double")
            .parquet(codes_dir)
            .select("vec_id")
            .distinct()
        )
        batch = batch_df.join(seen, "vec_id", "left_anti")
        # Train-once guard keys on the RESIDUAL codebook — the LAST
        # artifact written (ADVICE r6): a tear between the coarse and
        # residual writes leaves rcb empty, so replay retrains BOTH;
        # overwrite-mode writes make that retrain idempotent instead
        # of appending a duplicate coarse codebook.
        if sess.read.schema(cb_schema).parquet(rcb_dir).limit(1).isEmpty():
            sub = _fulldim_sub(batch)
            coarse = _lloyd_codebook(
                sub, IVF_K, IVF_KMEANS_ROUNDS, IVF_TRAIN_MOD,
                seed=_rank_seed(sub, IVF_K),
            )
            if coarse.count() != IVF_K:
                raise ValueError(
                    "streaming_ivfpq_encode: partial coarse codebook — "
                    "refusing to persist"
                )
            coarse = barrier(coarse)
            coarse.write.mode("overwrite").parquet(coarse_dir)
            rsub = _split_subspaces(_residuals(sub, coarse), "rvec", "vec_id")
            rcb = _lloyd_codebook(
                rsub, PQ_K, PQ_KMEANS_ROUNDS, PQ_TRAIN_MOD,
                seed=_rank_seed(rsub, PQ_K),
            )
            if rcb.count() != PQ_M * PQ_K:
                raise ValueError(
                    "streaming_ivfpq_encode: partial residual codebook — "
                    "refusing to persist"
                )
            rcb.write.mode("overwrite").parquet(rcb_dir)
        # encode against the PERSISTED codebooks (read back, never the
        # in-memory frames — the serve path a later batch will take)
        coarse = sess.read.schema(cb_schema).parquet(coarse_dir)
        rcb = sess.read.schema(cb_schema).parquet(rcb_dir)
        res = _residuals(_fulldim_sub(batch), coarse)
        best = _pq_assign_to(_split_subspaces(res, "rvec", "vec_id"), rcb)
        out = best.select("vec_id", "s", "cid", "d2").join(
            res.select("vec_id", "cell"), "vec_id"
        ).select("vec_id", F.col("cell").cast("bigint").alias("cell"), "s", "cid", "d2")
        out.write.mode("append").parquet(codes_dir)

    for d in (coarse_dir, rcb_dir, codes_dir):
        os.makedirs(d, exist_ok=True)
    drain(spark, emb_dir, checkpoint_dir, apply_batch)


def streaming_ivfpq_index_ingest(
    spark: SparkSession,
    emb_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> None:
    """Delta ingest INTO the persisted ``build_ivfpq_index`` artifact —
    the full index-maintenance loop on ONE store: build (q172) ->
    serve (q173) -> ingest (this) -> serve again. Every micro-batch is
    encoded against the STORED codebooks (read-only; never retrained —
    the artifact is history-immutable) and appended to the stored code
    table IN ITS CELL-PARTITIONED LAYOUT, so the q173 probe's
    partition-pruned scan keeps working over the grown index without
    re-layout. Per-trigger cost: one broadcast coarse argmin, a
    row-local residual, one broadcast residual argmin, one cell-keyed
    append — O(batch).

    Re-delivery is self-healing: already-stored vec_ids anti-join away
    before encode or append (seen-set anti-join), and
    the artifact's codebooks are never written here, so there is no
    torn-write window beyond the append itself. Drained codes equal
    ``ivfpq_incremental_encode`` (stored-codebook path) when the index
    was built over the history slice — pinned in
    tests/test_streaming.py.
    """
    from whale_sightings_spark.operators.similarity import (
        _pq_assign_to,
        _pq_subvectors,
        ivfpq_assign_encode,
        ivfpq_index_extra_paths,
        ivfpq_index_paths,
        read_ivfpq_index,
        read_pq_index,
    )

    _coarse_dir, _rcb_dir, codes_dir = ivfpq_index_paths(index_dir)
    _pqcb_dir, pq_codes_dir = ivfpq_index_extra_paths(index_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        coarse, rcb, codes = read_ivfpq_index(sess, index_dir)
        # the v2 plain-PQ table is maintained alongside; each table
        # anti-joins its OWN seen set, so a crash between the two
        # appends self-heals on replay (no cross-table torn-batch loss)
        if os.path.isdir(pq_codes_dir):
            pqcb, pq_codes = read_pq_index(sess, index_dir)
            pq_batch = batch_df.join(
                pq_codes.select("vec_id").distinct(), "vec_id", "left_anti"
            )
            if not pq_batch.limit(1).isEmpty():
                pq_rows = (
                    _pq_assign_to(_pq_subvectors(pq_batch), pqcb)
                    .select("vec_id", "s", "cid", "d2")
                    .join(
                        pq_batch.select(
                            "vec_id", F.col("label").alias("cell")
                        ),
                        "vec_id",
                    )
                )
                (
                    pq_rows.repartition("cell")
                    .write.mode("append")
                    .partitionBy("cell")
                    .parquet(pq_codes_dir)
                )
        seen = codes.select("vec_id").distinct()
        batch = batch_df.join(seen, "vec_id", "left_anti")
        if batch.limit(1).isEmpty():
            return
        res, best = ivfpq_assign_encode(batch, coarse, rcb)
        rows = (
            best.select("vec_id", "s", "cid")
            .join(res.select("vec_id", "cell"), "vec_id")
            .select("vec_id", "s", "cid", F.col("cell").cast("long").alias("cell"))
        )
        (
            rows.repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(codes_dir)
        )

    drain(spark, emb_dir, checkpoint_dir, apply_batch)


def streaming_cluster_ingest(
    spark: SparkSession,
    docs_dir: str,
    artifact_dir: str,
    checkpoint_dir: str,
) -> None:
    """Delta ingest INTO the persisted near-dup cluster artifact
    (round 9 — the label store gets the lifecycle the other five
    artifacts have: build -> serve -> STREAM-INGEST -> serve). Each
    micro-batch of NEW documents is SimHash-signed, probes the stored
    band index (`dedup.incremental_cluster_assign` — O(delta) band
    joins, never history x history), and appends:

    - its signatures and band keys (growing the probe index),
    - the verified new edges into the stored pair table (cell layout
      preserved: hash(doc_a) pbucket partitions),
    - label assignments for new members: the touched cluster's stored
      label, or min batch doc_id for new-only components,
    - deferred-merge rows when a batch bridges two existing clusters —
      stored labels are append-only between rebuilds, so merges are
      RECORDED, not applied; `dedup.cluster_merge_pressure` is the
      rebuild trigger a maintenance job watches.

    Idempotence is per-table: every append anti-joins its own table's
    keys (doc_id for sigs/bands/labels, the pair for edges, the label
    pair for merges), and the signature table — the batch-level seen
    key — is appended LAST with bands just before it, so a crash
    between any two appends replays the batch and each table heals
    independently (the ivfpq-ingest convention; self-probe and
    double-path duplicates are guarded inside the assign operator).
    """
    from whale_sightings_spark.operators import dedup as DD

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        stored_sigs = DD.stored_cluster_sigs(sess, artifact_dir)
        batch = batch_df.join(
            stored_sigs.select("doc_id"), "doc_id", "left_anti"
        )
        if batch.limit(1).isEmpty():
            return
        sigs_b = barrier(DD.simhash_signatures(batch))
        labels_new, edges_new, merges_new = DD.incremental_cluster_assign(
            sigs_b,
            DD.stored_cluster_bands(sess, artifact_dir),
            DD.stored_cluster_labels(sess, artifact_dir),
        )
        stored_pairs = DD.stored_cluster_pairs(sess, artifact_dir)
        (
            edges_new.join(
                stored_pairs.select("doc_a", "doc_b"),
                ["doc_a", "doc_b"],
                "left_anti",
            )
            .withColumn(
                "pbucket",
                F.pmod(F.hash(F.col("doc_a")), F.lit(DD.N_PAIR_BUCKETS)),
            )
            .repartition("pbucket")
            .write.mode("append")
            .partitionBy("pbucket")
            .parquet(DD.cluster_pairs_path(artifact_dir))
        )
        # the derived graph tables (pagerank/kcore/census/histpairs)
        # were converged over the PRE-append edge set: drop them so
        # the next read rebuilds from the grown pair table instead of
        # silently serving pre-append scores beside post-append edges
        # (ADVICE r10). Idempotent and crash-safe: a replayed batch
        # re-deletes, and the build-if-absent reader heals. Only
        # PUBLISHED derived_<name> dirs are deleted — a live builder's
        # derived_*.tmp.<pid> staging is never raced (`store_utils`
        # crash contract); dead builders' leftovers go
        # through the pid-liveness reap, and a live builder that
        # publishes pre-append results AFTER this sweep is caught by
        # the reader's _GEN generation gate, not by deletion order.
        import glob
        import shutil

        from whale_sightings_spark.plans.store_utils import (
            reap_dead_staging,
        )

        reap_dead_staging(artifact_dir)
        for d in glob.glob(
            os.path.join(artifact_dir, "derived_*")
        ):
            if ".tmp." in os.path.basename(d):
                continue
            shutil.rmtree(d, ignore_errors=True)
        mdir = DD.cluster_merges_path(artifact_dir)

        if os.path.isdir(mdir):
            seen_m = sess.read.schema(
                "label_kept long, label_deferred long"
            ).parquet(mdir)
            merges_new = merges_new.join(
                seen_m, ["label_kept", "label_deferred"], "left_anti"
            )
        merges_new.write.mode("append").parquet(mdir)
        stored_labels = DD.stored_cluster_labels(sess, artifact_dir)
        (
            labels_new.join(
                stored_labels.select("doc_id"), "doc_id", "left_anti"
            )
            .select(
                F.col("doc_id").cast("long"), F.col("label").cast("long")
            )
            .write.mode("append")
            .parquet(DD.cluster_artifact_paths(artifact_dir))
        )
        stored_bands = DD.stored_cluster_bands(sess, artifact_dir)
        (
            DD.simhash_banded(sigs_b)
            .join(
                stored_bands.select("doc_id").distinct(),
                "doc_id",
                "left_anti",
            )
            .withColumn(
                "bucket", F.pmod(F.hash("band"), F.lit(DD.N_PAIR_BUCKETS))
            )
            .repartition("bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(DD.cluster_bands_path(artifact_dir))
        )
        # signatures LAST — the batch-level seen key
        (
            sigs_b.select(F.col("doc_id").cast("long"), "sh")
            .write.mode("append")
            .parquet(DD.cluster_sigs_path(artifact_dir))
        )

    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def streaming_embed_assign(
    spark: SparkSession,
    vecs_dir: str,
    artifact_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of the embed-cluster SERVE path (round 9): each
    micro-batch of arriving vectors is near-dup-assigned against the
    STORED embed artifact (`similarity.embed_assign_from_store` —
    O(delta) band probe under the frozen hot-bucket cap, cosine verify
    joins the stored vectors for candidates only). The artifact is
    read-only in the stream — the deployed dedup-gate shape on the
    embedding side, completing the lifecycle symmetry with the text
    graph's mutating `streaming_cluster_ingest`.

    Stateless ⇒ idempotent by per-batch overwrite."""
    from whale_sightings_spark.operators.similarity import (
        embed_assign_from_store,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        write_batch_output(
            embed_assign_from_store(batch_df, sess, artifact_dir),
            out_dir,
            batch_id,
        )

    drain(spark, vecs_dir, checkpoint_dir, apply_batch)


def streaming_degree_audit(
    spark: SparkSession,
    docs_dir: str,
    artifact_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    rebuild_threshold: int | None = None,
) -> None:
    """Streaming honesty probe for the persisted graph-analytics
    tables (round 10, VERDICT r9 #5): each micro-batch of arriving
    documents is signed and band-probed READ-ONLY against the stored
    text-cluster artifact (`dedup.degree_audit_batch`); per batch it
    emits (a) per-node degree deltas — how stale the stored q252
    degree profile just became — and (b) a one-row summary whose
    ``rebuild_due`` flag is the rebuild trigger for the derived
    pagerank/kcore tables (q253 prices the same pressure batch-side
    on the store; this prices it per-trigger between rebuilds).

    Stateless and artifact-read-only ⇒ idempotent by per-batch
    overwrite under ``deltas/`` and ``summary/``."""
    from whale_sightings_spark.operators import dedup as DD

    thresh = (
        DD.GRAPH_REBUILD_BRIDGE_EVENTS
        if rebuild_threshold is None
        else rebuild_threshold
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        sigs_b = barrier(DD.simhash_signatures(batch_df))
        deltas, summary = DD.degree_audit_batch(
            sigs_b,
            DD.stored_cluster_bands(sess, artifact_dir),
            DD.stored_cluster_labels(sess, artifact_dir),
            rebuild_threshold=thresh,
        )
        write_batch_output(deltas, os.path.join(out_dir, "deltas"), batch_id)
        write_batch_output(summary, os.path.join(out_dir, "summary"), batch_id)

    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def streaming_bpe_ingest(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of the q176 trained-BPE pipeline's corpus pass:
    each micro-batch appends its PER-DOC word counts (doc_id, word,
    cnt) to the dictionary state — the only corpus-scale stage of BPE
    training. Training itself (``bpe_train_from_state``) then runs
    over the drained state's word sums, so the streamed tokenizer's
    merge table equals the batch operator's EXACTLY regardless of how
    the corpus was split into micro-batches (word counts are algebraic
    — no prefix-cap divergence like the near-dup twin documents; the
    vocab cap applies once, at train time, over the summed state).

    Re-delivery is self-healing: already-counted doc_ids anti-join
    away before the append (seen-set anti-join), and the
    trainer de-duplicates (doc_id, word) rows so a torn append
    degrades to a no-op on replay. Per-trigger cost is one word agg
    over the batch — O(batch tokens). Production swaps the state dir
    for a transactional table keyed by (doc_id, word).
    """
    wc_dir = state_dir.rstrip("/") + "/wordcounts"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = (
            sess.read.schema("doc_id long, word string, cnt long")
            .parquet(wc_dir)
            .select("doc_id")
            .distinct()
        )
        batch = batch_df.join(seen, "doc_id", "left_anti")
        counts = (
            batch.select(
                "doc_id",
                F.explode(
                    F.split(F.trim(F.lower(F.col("text"))), " +")
                ).alias("word"),
            )
            .filter(F.col("word") != "")
            .groupBy("doc_id", "word")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        counts.write.mode("append").parquet(wc_dir)

    os.makedirs(wc_dir, exist_ok=True)
    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def bpe_train_from_state(spark: SparkSession, state_dir: str, rounds: int | None = None):
    """Train the BPE merge table from the drained streaming state:
    de-duplicate (doc_id, word) rows (torn-append guard), sum to the
    word dictionary, apply the SAME deterministic top-cap as
    ``operators.bpe.word_dict``, and run the shared trainer. Returns
    the (merges, symbol-frame) pair of ``bpe_train``."""
    from whale_sightings_spark.operators.bpe import (
        BPE_ROUNDS,
        BPE_VOCAB_CAP,
        bpe_train_from_dict,
    )

    wc_dir = state_dir.rstrip("/") + "/wordcounts"
    state = (
        spark.read.schema("doc_id long, word string, cnt long")
        .parquet(wc_dir)
        .groupBy("doc_id", "word")
        .agg(F.max("cnt").alias("cnt"))
    )
    wd = (
        state.groupBy("word")
        .agg(F.sum("cnt").cast("bigint").alias("wcount"))
        .orderBy(F.desc("wcount"), F.asc("word"))
        .limit(BPE_VOCAB_CAP)
    )
    return bpe_train_from_dict(wd, BPE_ROUNDS if rounds is None else rounds)


def streaming_nb_score(
    spark: SparkSession,
    docs_dir: str,
    artifact_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of q229's classifier SERVE path: each
    micro-batch of arriving documents is scored against the STORED NB
    model (`operators.classify.build_nb_artifact` output) — inference
    only, no training in the stream, exactly how a deployed quality
    gate consumes new crawl data.  Per-trigger cost is O(batch tokens)
    ⋈ broadcast stored vocab.

    The operator is stateless (the model is a read-only artifact), so
    idempotence needs no replay guard: each batch overwrites its own
    ``batch_id=N`` output partition — a re-delivered batch rewrites
    identical rows.  Production swaps out_dir for the scored-corpus
    table the downstream mixer reads.
    """
    from whale_sightings_spark.operators.classify import (
        nb_calibrated_scores_from_store,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # round 8: the served rows carry the CALIBRATED probability
        # (sigma(score/T) with T off the stored meta row) beside the
        # raw log-odds — the gate downstream consumes p_cal directly
        scored = nb_calibrated_scores_from_store(
            batch_df, sess, artifact_dir
        )
        write_batch_output(scored, out_dir, batch_id)

    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def nb_scores_from_out(spark: SparkSession, out_dir: str) -> DataFrame:
    """Aggregate the streamed per-doc scores to the q229 per-source
    report (column-compatible with the registered query)."""
    out = spark.read.schema(
        "doc_id long, source string, y int, score double, p_cal double, "
        "batch_id long"
    ).parquet(out_dir)
    pos = F.col("score") > 0
    return out.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(pos.cast("int")).cast("bigint").alias("n_pred_pos"),
        F.round(
            F.avg(F.when(pos, F.lit(1.0)).otherwise(F.lit(0.0))), 4
        ).alias("pred_pos_share"),
        F.round(
            F.avg(
                F.when(pos == (F.col("y") == 1), F.lit(1.0)).otherwise(
                    F.lit(0.0)
                )
            ),
            4,
        ).alias("agree_weak_rule"),
    )


def streaming_transition_counts(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of the q195 transition miner's corpus pass:
    per micro-batch, count (src_type -> dst_type) transitions inside
    the batch (a user-keyed lag window over batch rows) PLUS the
    boundary transition from each user's carried last event into the
    batch's first event, then persist both the count deltas and the
    refreshed per-user frontier. Transition counts are algebraic, so
    the drained state's sums equal the batch operator's counts EXACTLY
    whenever each user's events arrive in (ts, event_id) order across
    micro-batches (time-partitioned files — the layout a log ingest
    actually has; pinned in tests/test_streaming.py with a 3-file
    time split).

    State: ``deltas`` (batch_id, src_type, dst_type, n) — replay-safe
    because a re-delivered batch_id anti-joins away before append —
    and ``frontier`` (user_id, ts, event_id, event_type, batch_id),
    read as latest-batch-wins. Per-trigger cost: one batch-keyed
    window + one frontier join; both sides are batch- or
    user-cardinality-sized.

    Torn-write contract (ADVICE r6): the two state appends are not
    atomic, so the frontier is written FIRST and the replay guard is
    keyed on the LAST artifact (deltas). A failure between the writes
    leaves batch_id absent from deltas, so replay re-runs the batch;
    the duplicate frontier rows it re-appends are identical and
    collapse under the latest-batch-wins read. The frontier read also
    pins ``batch_id < current`` so a replayed batch sees exactly the
    pre-batch frontier even when its own torn rows already landed.
    """
    deltas_dir = state_dir.rstrip("/") + "/deltas"
    frontier_dir = state_dir.rstrip("/") + "/frontier"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        done = (
            sess.read.schema("batch_id long, src_type string, dst_type string, n long")
            .parquet(deltas_dir)
            .select("batch_id")
            .distinct()
        )
        if not done.filter(F.col("batch_id") == batch_id).isEmpty():
            return
        frontier_all = (
            sess.read.schema(
                "user_id long, ts timestamp, event_id long, event_type string,"
                " batch_id long"
            )
            .parquet(frontier_dir)
            # pre-batch state only: a torn prior attempt may have
            # appended THIS batch's frontier rows already
            .filter(F.col("batch_id") < batch_id)
        )
        fw = W.partitionBy("user_id").orderBy(
            F.desc("batch_id"), F.desc("ts"), F.desc("event_id")
        )
        frontier = (
            frontier_all.withColumn("rk", F.row_number().over(fw))
            .filter(F.col("rk") == 1)
            .select("user_id", "ts", "event_id", F.col("event_type").alias("prev_type"))
        )
        bw = W.partitionBy("user_id").orderBy("ts", "event_id")
        seq = batch_df.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lag("event_type").over(bw).alias("prev_type"),
            F.row_number().over(bw).alias("rk"),
        )
        inner = seq.filter(F.col("prev_type").isNotNull()).select(
            F.col("prev_type").alias("src_type"),
            F.col("event_type").alias("dst_type"),
        )
        boundary = (
            seq.filter(F.col("rk") == 1)
            .drop("prev_type")
            .join(frontier.select("user_id", "prev_type"), "user_id")
            .select(
                F.col("prev_type").alias("src_type"),
                F.col("event_type").alias("dst_type"),
            )
        )
        deltas = (
            inner.unionByName(boundary)
            .groupBy("src_type", "dst_type")
            .agg(F.count("*").cast("long").alias("n"))
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "src_type",
                "dst_type",
                "n",
            )
        )
        last = (
            batch_df.withColumn(
                "rk",
                F.row_number().over(
                    W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
                ),
            )
            .filter(F.col("rk") == 1)
            .select(
                "user_id",
                "ts",
                "event_id",
                "event_type",
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
        )
        # frontier FIRST, deltas LAST: the replay guard keys on deltas,
        # so a tear between the writes re-runs the batch instead of
        # silently skipping it with a stale frontier
        last.write.mode("append").parquet(frontier_dir)
        deltas.write.mode("append").parquet(deltas_dir)

    os.makedirs(deltas_dir, exist_ok=True)
    os.makedirs(frontier_dir, exist_ok=True)
    drain(spark, events_dir, checkpoint_dir, apply_batch)


def transition_counts_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """(src_type, dst_type, n_trans) summed from the drained streaming
    deltas — compare against q195's count column."""
    deltas_dir = state_dir.rstrip("/") + "/deltas"
    return (
        spark.read.schema(
            "batch_id long, src_type string, dst_type string, n long"
        )
        .parquet(deltas_dir)
        .groupBy("batch_id", "src_type", "dst_type")
        .agg(F.max("n").alias("n"))
        .groupBy("src_type", "dst_type")
        .agg(F.sum("n").cast("long").alias("n_trans"))
    )


def streaming_ngram_novelty(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of q207's n-gram novelty: per micro-batch of
    documents, count each doc's distinct 5-gram shingles and how many
    are globally first-seen, with the seen-shingle set persisted as
    parquet state. When files arrive in doc_id order (the ingest
    contract the batch query's min-doc_id attribution assumes), the
    drained per-doc output aggregates to exactly the batch q207 answer.

    Probe is O(batch-shingles x state-probe): the batch's distinct
    shingles are anti-joined against state once; history is never
    rewritten. Torn-write discipline (the r6 ADVICE convention): the
    per-doc output partition ``batch_id=N`` is written FIRST with
    overwrite (idempotent on replay), the state append happens LAST,
    and the replay guard keys on the LAST artifact — a batch_id already
    present in state is fully applied and skipped. A torn write (out
    written, state not) recomputes against the ``batch_id < current``
    pre-state and overwrites the same out partition. State stores raw
    shingle strings for exactness; production would hash60 them to
    fixed-width keys (same plan shape, 8x narrower state).
    """
    from whale_sightings_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )

    state_schema = "shingle string, batch_id long"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        state = sess.read.schema(state_schema).parquet(state_dir)
        if state.filter(F.col("batch_id") == batch_id).limit(1).count() > 0:
            return  # replay of a fully-applied batch
        hist = state.filter(F.col("batch_id") < batch_id).select("shingle")
        t = batch_df.select(
            "doc_id", "source", tokens(F.col("text")).alias("toks")
        )
        sh = t.select(
            "doc_id",
            "source",
            F.explode(shingles_from_tokens(F.col("toks"), 5)).alias(
                "shingle"
            ),
        ).distinct()
        fresh = (
            sh.select("shingle")
            .distinct()
            .join(hist, "shingle", "left_anti")
        )
        fs = sh.withColumn(
            "first_doc", F.min("doc_id").over(W.partitionBy("shingle"))
        ).join(fresh.withColumn("is_fresh", F.lit(True)), "shingle", "left")
        per_doc = fs.groupBy("doc_id", "source").agg(
            F.count("*").alias("total"),
            F.sum(
                F.when(
                    (F.col("first_doc") == F.col("doc_id"))
                    & F.col("is_fresh").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("new"),
        )
        write_batch_output(per_doc, out_dir, batch_id)
        (
            fresh.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(state_dir)
        )

    os.makedirs(state_dir, exist_ok=True)
    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def ngram_novelty_from_out(spark: SparkSession, out_dir: str) -> DataFrame:
    """Aggregate the streaming novelty per-doc output to the q207
    per-source report (column-compatible with the registered query)."""
    out = spark.read.schema(
        "doc_id long, source string, total long, new long, batch_id long"
    ).parquet(out_dir)
    return out.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("total").cast("bigint").alias("n_shingles"),
        F.sum("new").cast("bigint").alias("n_first_seen"),
        F.round(
            F.sum("new").cast("double") / F.sum("total").cast("double"), 6
        ).alias("novelty"),
    )


def streaming_ks_ingest(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming twin of q205's KS drift monitor: each micro-batch
    appends its per-doc (doc_id, source, n_chars) projection to the
    histogram state — length-distribution evidence is ALGEBRAIC (per
    (source, length) counts sum across batches), so the KS statistic
    recomputed from the drained state equals the batch query on the
    delivered prefix exactly, for any micro-batch split (the
    streaming_bpe_ingest economics). Re-delivery self-heals via the
    doc_id anti-join; a torn append degrades to duplicate doc rows
    that ``ks_from_state`` de-duplicates before aggregating.
    Per-trigger cost: one O(batch) projection + anti-join probe.
    """
    hist_dir = state_dir.rstrip("/") + "/lenhist"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = (
            sess.read.schema("doc_id long, source string, n_chars long")
            .parquet(hist_dir)
            .select("doc_id")
            .distinct()
        )
        (
            batch_df.join(seen, "doc_id", "left_anti")
            .select("doc_id", "source", F.col("n_chars").cast("long"))
            .write.mode("append")
            .parquet(hist_dir)
        )

    os.makedirs(hist_dir, exist_ok=True)
    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def ks_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The q205 per-source KS report computed from the drained
    streaming state (same operator body — operators/drift.ks_report —
    so the twin cannot drift from the registered query); duplicate doc
    rows from torn appends collapse via doc_id dedup first."""
    from whale_sightings_spark.operators.drift import ks_report

    hist_dir = state_dir.rstrip("/") + "/lenhist"
    d = (
        spark.read.schema("doc_id long, source string, n_chars long")
        .parquet(hist_dir)
        .groupBy("doc_id")
        .agg(
            F.first("source").alias("source"),
            F.first("n_chars").alias("n_chars"),
        )
    )
    return ks_report(d.select("source", "n_chars"))


def streaming_shingle_index_ingest(
    spark: SparkSession,
    docs_dir: str,
    artifact_dir: str,
    checkpoint_dir: str,
) -> None:
    """Delta ingest INTO the persisted shingle inverted index (round 8
    — the fourth artifact gets the same lifecycle the IVF-PQ index
    has: build -> serve -> STREAM-INGEST -> serve). Each micro-batch's
    NEW documents (already-indexed doc_ids anti-join away, so replays
    are no-ops) contribute:

    - distinct (doc_id, source, shingle) postings in the SAME
      bucket-partitioned layout (readers union batch dirs per root,
      so the pruned probe keeps working over the grown index),
    - per-doc shingle counts (doc-disjoint by the anti-join: plain
      append stays exact),
    - per-shingle df PARTIALS (disjoint doc sets per batch, so
      `stored_df`'s sum-at-read is exact; merging the full df table
      per trigger would be O(shingle types) — near corpus scale),
    - the batch's distinct width-5 (source, shingle) rows
      (`stored_src5` dedups at read).

    Per-trigger cost: O(batch tokens) + one batch-sized distinct + one
    O(ingested documents) manifest read. v2 (round 9): each batch is
    written as ONE complete sub-store under ``ingest/b<batch_id>``,
    published by `store_utils.publish` — a crash mid-batch leaves
    nothing any reader or seen-set observes, so the replay regenerates the batch whole (closes the v1 window where the
    postings append, the anti-join key, landed but the crash stranded
    that batch's df/doc_stats/src5 rows forever). The seen-set is the
    doc-id manifest, never a posting-table distinct. Drained store
    equals a fresh full-corpus build up to df/src5 partial layout —
    pinned in tests/test_streaming.py. `compact_shingle_store` folds
    published batches into the base tables.
    """
    from whale_sightings_spark.operators import shingles as SH
    from whale_sightings_spark.plans.store_utils import (
        publish,
        reap_dead_staging,
    )

    ingest_root = SH.shingle_ingest_root(artifact_dir)
    os.makedirs(ingest_root, exist_ok=True)
    reap_dead_staging(ingest_root)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = SH.stored_doc_ids(sess, artifact_dir)
        batch = batch_df.join(seen, "doc_id", "left_anti")
        if batch.limit(1).isEmpty():
            return
        final = os.path.join(ingest_root, f"b{batch_id}")
        if os.path.isdir(final):
            return  # published by a previous attempt; replay no-ops

        def write(staging: str) -> None:
            post = (
                SH._distinct_postings(batch, SH.SHINGLE_N)
                .withColumn(
                    "bucket",
                    F.pmod(F.hash("shingle"), F.lit(SH.N_POSTING_BUCKETS)).cast(
                        "int"
                    ),
                )
                .transform(barrier)  # 3 consumers below
            )
            (
                post.repartition("bucket")
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(os.path.join(staging, "postings"))
            )
            (
                post.groupBy("shingle")
                .agg(F.count("*").cast("bigint").alias("df"))
                .write.mode("overwrite")
                .parquet(os.path.join(staging, "df"))
            )
            (
                post.groupBy("doc_id")
                .agg(F.count("*").cast("bigint").alias("n_shingles"))
                .write.mode("overwrite")
                .parquet(os.path.join(staging, "doc_stats"))
            )
            (
                SH._distinct_postings(batch, SH.SRC_SHINGLE_N)
                .select("source", "shingle")
                .distinct()
                .write.mode("overwrite")
                .parquet(os.path.join(staging, "src5"))
            )
            # the batch manifest — includes shingle-less docs, so replaying
            # them is a manifest hit, not a vacuous re-shingle
            (
                batch.select(F.col("doc_id").cast("long"))
                .distinct()
                .write.mode("overwrite")
                .parquet(os.path.join(staging, "doc_ids"))
            )

        publish(final, write, lambda: os.path.isdir(final))

    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def streaming_lm_ingest(
    spark: SparkSession,
    docs_dir: str,
    artifact_dir: str,
    checkpoint_dir: str,
) -> None:
    """Delta ingest INTO the persisted n-gram LM store (round 8 — the
    sixth artifact gets the shingle-index lifecycle: build -> serve ->
    STREAM-INGEST -> serve; reworked round 9 per ADVICE r8).

    Each micro-batch's NEW documents (already-ingested doc_ids
    anti-join away against the O(documents) ``doc_ids`` manifest — the
    doc-id-only sidecar, never the corpus-scale n-gram tables) are
    written as ONE per-batch sub-store ``ingest/b<batch_id>/`` holding
    every table (per-doc counts, aggregate PARTIALS, and the batch's
    own doc-id manifest), staged and published by a single atomic
    rename (`store_utils.publish`). Readers
    (`store_utils.read_store_table`) union the base store with
    PUBLISHED batch dirs only, so:

    - a failure ANYWHERE before the rename removes the batch's
      staging dir (a hard kill leaves it for the dead-pid reap at the
      next start); no reader and no seen-set ever observes it, and the
      replayed batch recomputes and re-publishes it whole (no
      torn-batch row loss across tables, the round-8 append-in-place
      failure mode);
    - a crash after the rename replays a batch whose doc_ids are all
      in the manifest — the anti-join empties and the trigger no-ops.

    Per-trigger cost: O(batch tokens) tokenize passes + five
    batch-bounded aggregates + one O(ingested documents) manifest
    read. `compact_lm_store` folds published batches into the base
    tables.
    """
    from whale_sightings_spark.operators import ngram_lm as LM
    from whale_sightings_spark.plans.store_utils import (
        publish,
        reap_dead_staging,
    )

    ingest_root = LM.lm_ingest_root(artifact_dir)
    os.makedirs(ingest_root, exist_ok=True)
    reap_dead_staging(ingest_root)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        seen = LM.stored_doc_ids(sess, artifact_dir)
        batch = batch_df.join(seen, "doc_id", "left_anti")
        if batch.limit(1).isEmpty():
            return
        final = os.path.join(ingest_root, f"b{batch_id}")
        if os.path.isdir(final):
            return  # published by a previous attempt; replay no-ops

        def write(staging: str) -> None:
            bpaths = LM.lm_artifact_paths(staging)
            du = (
                LM.doc_unigram_counts(batch)
                .withColumn(
                    "bucket",
                    F.pmod(F.hash("tok"), F.lit(LM.N_LM_BUCKETS)).cast("int"),
                )
                .transform(barrier)  # 3 consumers below
            )
            db = (
                LM.doc_bigram_counts(batch)
                .withColumn(
                    "bucket",
                    F.pmod(F.hash("w1", "w2"), F.lit(LM.N_LM_BUCKETS)).cast(
                        "int"
                    ),
                )
                .transform(barrier)
            )
            dt = (
                LM.doc_trigram_counts(batch)
                .withColumn(
                    "bucket",
                    F.pmod(
                        F.hash("w1", "w2", "w3"), F.lit(LM.N_LM_BUCKETS)
                    ).cast("int"),
                )
                .transform(barrier)
            )
            train = F.col("doc_id") % LM.HOLD_MOD != 0
            for df, key in ((du, "doc_uni"), (db, "doc_big"), (dt, "doc_tri")):
                (
                    df.repartition("bucket")
                    .write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(bpaths[key])
                )
            (
                du.groupBy("tok")
                .agg(F.sum("n").cast("bigint").alias("n"))
                .write.mode("overwrite")
                .parquet(bpaths["uni"])
            )
            (
                du.filter(train)
                .groupBy("tok")
                .agg(F.sum("n").cast("bigint").alias("n"))
                .write.mode("overwrite")
                .parquet(bpaths["uni_train"])
            )
            (
                db.filter(train)
                .groupBy("w1", "w2")
                .agg(F.sum("n").cast("bigint").alias("c12"))
                .write.mode("overwrite")
                .parquet(bpaths["pairs_train"])
            )
            (
                dt.filter(train)
                .groupBy("w1", "w2", "w3")
                .agg(F.sum("n").cast("bigint").alias("c123"))
                .write.mode("overwrite")
                .parquet(bpaths["tri_train"])
            )
            (
                db.groupBy("w1", "w2")
                .agg(F.sum("n").cast("bigint").alias("pair_n"))
                .write.mode("overwrite")
                .parquet(bpaths["pairs"])
            )
            # v3: the batch's per-doc token totals (retrieval-family side)
            (
                LM.doc_len_counts(batch)
                .write.mode("overwrite")
                .parquet(bpaths["doc_len"])
            )
            # the batch manifest — includes token-less docs, so replaying
            # them is a manifest hit, not a vacuous re-tokenize
            (
                batch.select(F.col("doc_id").cast("long"))
                .distinct()
                .write.mode("overwrite")
                .parquet(bpaths["doc_ids"])
            )

        publish(final, write, lambda: os.path.isdir(final))

    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def streaming_bm25_score(
    spark: SparkSession,
    docs_dir: str,
    artifact_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    terms=("join", "vector", "stream"),
) -> None:
    """Streaming twin of q103's SERVE path (round 9): each micro-batch
    of arriving documents is BM25-scored against the STORED corpus
    statistics (df via the bucket-pruned posting probe, (n_docs,
    avgdl) off doc_len) — scoring only, the index is read-only in the
    stream, exactly how a deployed lexical gate ranks new crawl data
    before it is ingested. Per-trigger cost is O(batch tokens) ⋈ two
    broadcast store aggregates.

    Stateless (the index is a read-only artifact) ⇒ idempotent by
    per-batch overwrite."""
    from whale_sightings_spark.operators.ngram_lm import (
        bm25_score_docs_from_store,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        scored = bm25_score_docs_from_store(
            batch_df, sess, artifact_dir, terms
        )
        write_batch_output(scored, out_dir, batch_id)

    drain(spark, docs_dir, checkpoint_dir, apply_batch)


def streaming_source_kl(
    spark: SparkSession,
    docs_dir: str,
    artifact_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming drift monitor over the stored n-gram LM: each
    micro-batch of arriving documents is scored per source against the
    STORED corpus unigram distribution (`ngram_lm.source_kl_vs_stored`
    — q248's statistic on arriving data, with OOV mass reported
    because new crawl text need not be in-vocabulary). Inference only:
    the store is read-only here, so the operator is stateless and
    idempotent by per-batch overwrite. Per-trigger cost is O(batch
    tokens) + one broadcast-scalar join against the vocab-scale
    stored unigram table."""
    from whale_sightings_spark.operators.ngram_lm import (
        source_kl_vs_stored,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        report = source_kl_vs_stored(batch_df, sess, artifact_dir)
        write_batch_output(report, out_dir, batch_id)

    drain(spark, docs_dir, checkpoint_dir, apply_batch)
