"""Streaming ingest for the persisted near-dup cluster artifact
(round 9, VERDICT r8 #6): full build -> serve -> stream-ingest ->
serve loop, stream==batch label equality on a multi-file delta,
replay idempotence, deferred-merge recording, and the
merge-pressure rebuild trigger."""
from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from whale_sightings_spark.operators import dedup as DD

_A = "the quick brown fox jumps over the lazy dog again and again"
_B = "colorless green ideas sleep furiously under the pale winter moon"
_ROWS_HIST = [
    # two identical-text families + singletons
    (0, "s", _A),
    (1, "s", _A),
    (2, "s", _B),
    (3, "s", _B),
    (4, "s", "completely unrelated sentence number four about harbors"),
    (5, "s", "another standalone line regarding migration patterns"),
]
_ROWS_DELTA1 = [
    (10, "s", _A),  # joins family A -> must get label 0
    (11, "s", "fresh duplicated content that repeats verbatim tonight"),
    (12, "s", "fresh duplicated content that repeats verbatim tonight"),
]
_ROWS_DELTA2 = [
    (13, "s", "a final unique document with no neighbors anywhere"),
]
_SCHEMA = "doc_id long, source string, text string"


def _labels_with_singletons(spark, art, docs):
    stored = DD.stored_cluster_labels(spark, art)
    return {
        r["doc_id"]: r["lab"]
        for r in docs.select("doc_id")
        .join(stored, "doc_id", "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("lab"))
        .collect()
    }


def test_streaming_cluster_ingest_full_loop(spark, tmp_path_factory):
    from whale_sightings_spark.streaming.events import (
        streaming_cluster_ingest,
    )

    base = tmp_path_factory.mktemp("cluster_ingest")
    hist = spark.createDataFrame(_ROWS_HIST, _SCHEMA)
    alldocs = spark.createDataFrame(
        _ROWS_HIST + _ROWS_DELTA1 + _ROWS_DELTA2, _SCHEMA
    )
    art = str(base / "art")
    DD.build_cluster_artifact(
        None, art, sigs=DD.simhash_signatures(hist)
    )

    docs_dir = str(base / "deltas")
    spark.createDataFrame(_ROWS_DELTA1, _SCHEMA).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    time.sleep(1.1)
    spark.createDataFrame(_ROWS_DELTA2, _SCHEMA).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    # ADVICE r10: a streamed append must drop the derived graph tables
    # (pagerank/kcore/census) so the next read rebuilds them from the
    # grown edge set instead of serving pre-append scores
    stale_derived = os.path.join(art, "derived_pagerank")
    os.makedirs(stale_derived)
    open(os.path.join(stale_derived, "_SUCCESS"), "w").close()

    streaming_cluster_ingest(spark, docs_dir, art, str(base / "ck1"))
    assert not os.path.exists(stale_derived)

    # stream==batch: the grown store's effective labels equal a full
    # rebuild's (ids grow monotonically and no merge events occur, so
    # incremental assignment is exact — the documented contract)
    full = str(base / "full")
    DD.build_cluster_artifact(
        None, full, sigs=DD.simhash_signatures(alldocs)
    )
    got = _labels_with_singletons(spark, art, alldocs)
    want = _labels_with_singletons(spark, full, alldocs)
    assert got == want
    assert got[10] == got[0] == 0  # joined the existing A cluster
    assert got[11] == got[12] == 11  # new-only component, min batch id
    assert got[13] == 13  # singleton stays implicit

    # the grown pair table equals the full rebuild's edge set
    def edge_set(a):
        return {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in DD.stored_cluster_pairs(spark, a).collect()
        }

    assert edge_set(art) == edge_set(full)
    # the probe index grew: every non-empty doc is signed and banded
    assert DD.stored_cluster_sigs(spark, art).count() == alldocs.count()

    # replay from a fresh checkpoint appends nothing anywhere
    n_pairs = DD.stored_cluster_pairs(spark, art).count()
    n_labels = DD.stored_cluster_labels(spark, art).count()
    streaming_cluster_ingest(spark, docs_dir, art, str(base / "ck2"))
    assert DD.stored_cluster_pairs(spark, art).count() == n_pairs
    assert DD.stored_cluster_labels(spark, art).count() == n_labels

    # no merges happened: the rebuild trigger stays quiet
    row = DD.cluster_merge_pressure(spark, art).collect()[0]
    assert row["n_merge_events"] == 0
    assert row["n_cross_cluster_edges"] == 0


def test_incremental_assign_defers_merge_and_reports(spark, tmp_path):
    """A batch doc whose signature sits within the Hamming threshold of
    TWO existing clusters produces a deferred-merge row (labels are
    append-only between rebuilds) and assigns the new doc the smaller
    touched label; after a full rebuild the merge pressure clears."""
    # crafted signatures: cluster {1,2} at sh=0, cluster {3,4} at sh
    # with bits 30..59 set (hamming 30 apart -> never paired), bridge
    # doc 10 with bits 30..44 set (hamming 15 to BOTH sides)
    h1 = 0
    h2 = sum(1 << b for b in range(30, 60))
    hb = sum(1 << b for b in range(30, 45))
    hist_sigs = spark.createDataFrame(
        [(1, h1), (2, h1), (3, h2), (4, h2)], "doc_id long, sh long"
    )
    art = str(tmp_path / "art")
    DD.build_cluster_artifact(None, art, sigs=hist_sigs)
    labels0 = {
        (r["doc_id"], r["label"])
        for r in DD.stored_cluster_labels(spark, art).collect()
    }
    assert labels0 == {(1, 1), (2, 1), (3, 3), (4, 3)}

    batch_sigs = spark.createDataFrame([(10, hb)], "doc_id long, sh long")
    labels, edges, merges = DD.incremental_cluster_assign(
        batch_sigs,
        DD.stored_cluster_bands(spark, art),
        DD.stored_cluster_labels(spark, art),
    )
    assert {(r["doc_id"], r["label"]) for r in labels.collect()} == {(10, 1)}
    got_edges = {(r["doc_a"], r["doc_b"]) for r in edges.collect()}
    assert got_edges == {(1, 10), (2, 10), (3, 10), (4, 10)}
    assert {
        (r["label_kept"], r["label_deferred"]) for r in merges.collect()
    } == {(1, 3)}

    # simulate the ingest's appends, then audit the rebuild trigger
    (
        edges.withColumn(
            "pbucket",
            F.pmod(F.hash(F.col("doc_a")), F.lit(DD.N_PAIR_BUCKETS)),
        )
        .write.mode("append")
        .partitionBy("pbucket")
        .parquet(DD.cluster_pairs_path(art))
    )
    labels.write.mode("append").parquet(DD.cluster_artifact_paths(art))
    merges.write.mode("append").parquet(DD.cluster_merges_path(art))
    row = DD.cluster_merge_pressure(spark, art).collect()[0]
    assert row["n_merge_events"] == 1
    # edges (3,10) and (4,10) now cross clusters 3 and 1
    assert row["n_cross_cluster_edges"] == 2

    # REBUILD (the triggered maintenance): pressure clears, clusters
    # merged under the min label
    art2 = str(tmp_path / "art2")
    all_sigs = hist_sigs.unionByName(batch_sigs)
    DD.build_cluster_artifact(None, art2, sigs=all_sigs)
    row2 = DD.cluster_merge_pressure(spark, art2).collect()[0]
    assert row2["n_merge_events"] == 0
    assert row2["n_cross_cluster_edges"] == 0
    merged = {
        (r["doc_id"], r["label"])
        for r in DD.stored_cluster_labels(spark, art2).collect()
    }
    assert merged == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 1)}


def test_empty_probe_batch_is_noop(spark, tmp_path):
    """A batch whose docs have no near-dups anywhere appends no labels,
    no edges, no merges — only signatures and bands (the probe index
    must still grow so later batches can match these docs)."""
    hist_sigs = spark.createDataFrame(
        [(1, 0), (2, 0)], "doc_id long, sh long"
    )
    art = str(tmp_path / "art")
    DD.build_cluster_artifact(None, art, sigs=hist_sigs)
    far = sum(1 << b for b in range(30))  # hamming 30 from everything
    batch_sigs = spark.createDataFrame([(9, far)], "doc_id long, sh long")
    labels, edges, merges = DD.incremental_cluster_assign(
        batch_sigs,
        DD.stored_cluster_bands(spark, art),
        DD.stored_cluster_labels(spark, art),
    )
    assert labels.count() == 0 and edges.count() == 0 and merges.count() == 0


def test_cluster_compaction_preserves_readers_and_sentinel_rebuilds(
    spark, tmp_path_factory, monkeypatch
):
    """(round 9) compact_cluster_artifact folds per-batch append
    fragmentation: every reader returns identical rows, the merge
    ledger is deduplicated, the bucket layouts survive, and a crashed
    compaction's COMPACTING sentinel makes the build-if-absent cache
    rebuild instead of serving a possibly-torn artifact."""
    from whale_sightings_spark.streaming.events import (
        streaming_cluster_ingest,
    )

    base = tmp_path_factory.mktemp("cluster_compact")
    hist = spark.createDataFrame(_ROWS_HIST, _SCHEMA)
    art = str(base / "art")
    DD.build_cluster_artifact(None, art, sigs=DD.simhash_signatures(hist))
    docs_dir = str(base / "deltas")
    spark.createDataFrame(_ROWS_DELTA1, _SCHEMA).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    time.sleep(1.1)
    spark.createDataFrame(_ROWS_DELTA2, _SCHEMA).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    streaming_cluster_ingest(spark, docs_dir, art, str(base / "ck"))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    readers = (
        lambda: DD.stored_cluster_pairs(spark, art),
        lambda: DD.stored_cluster_labels(spark, art),
        lambda: DD.stored_cluster_sigs(spark, art),
        lambda: DD.stored_cluster_bands(spark, art),
    )
    before = [rows(r()) for r in readers]
    stats = DD.compact_cluster_artifact(spark, art)
    after = [rows(r()) for r in readers]
    assert after == before
    assert stats["files_after"] <= stats["files_before"]
    # bucket layouts survived the rewrite
    assert any(
        d.startswith("pbucket=") for d in os.listdir(art + "/pairs")
    )
    assert any(d.startswith("bucket=") for d in os.listdir(art + "/bands"))
    # crashed compaction: sentinel present -> cache treats as absent
    from whale_sightings_spark.plans.cluster_store import text_cluster_dir
    from whale_sightings_spark.plans.store_utils import compacting_sentinel

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(base / "cache"))
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    cached = text_cluster_dir(spark, sf)
    marker = os.path.join(DD.cluster_artifact_paths(cached), "_SUCCESS")
    mt0 = os.path.getmtime(marker)
    assert text_cluster_dir(spark, sf) == cached  # cache hit
    assert os.path.getmtime(marker) == mt0
    with open(compacting_sentinel(cached), "w") as fh:
        fh.write("12345")
    assert text_cluster_dir(spark, sf) == cached
    assert not os.path.exists(compacting_sentinel(cached))
    assert os.path.getmtime(marker) > mt0


def test_streaming_embed_assign_matches_batch_and_labels_duplicates(
    spark, sf_dir, tmp_path_factory
):
    """(round 9) Read-only streaming assign against the stored embed
    artifact (v4): (a) every streamed batch_id partition equals the
    batch operator on that file's vectors (stateless ⇒ stream==batch);
    (b) an exact copy of a history vector is assigned that vector's
    effective cluster label; (c) no-match vectors are their own
    singleton; (d) the artifact is untouched by the stream."""
    import glob

    from pyspark.sql import Row

    from whale_sightings_spark.operators import similarity as SIM
    from whale_sightings_spark.schemas import load_table
    from whale_sightings_spark.streaming.events import streaming_embed_assign

    base = tmp_path_factory.mktemp("embed_assign")
    emb = load_table(spark, sf_dir, "embeddings")
    hist = emb.filter(F.col("vec_id") < 400)
    art = str(base / "art")
    pairs = SIM.embedding_neardup_pairs(hist).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    DD.build_cluster_artifact(
        pairs, art, evecs=hist.select("vec_id", "embedding")
    )

    # craft one exact duplicate of history vector 0 (id 9000) plus the
    # real tail vectors as arriving data
    v0 = hist.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    dup = spark.createDataFrame(
        [Row(vec_id=9000, embedding=v0)],
        schema=emb.select("vec_id", "embedding").schema,
    )
    batch1 = emb.filter(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 450)
    ).select("vec_id", "embedding")
    batch2 = emb.filter(F.col("vec_id") >= 450).select(
        "vec_id", "embedding"
    ).unionByName(dup)

    vecs_dir = str(base / "deltas")
    batch1.coalesce(1).write.parquet(vecs_dir, mode="append")
    import time

    time.sleep(1.1)
    batch2.coalesce(1).write.parquet(vecs_dir, mode="append")

    n_labels_before = DD.stored_cluster_labels(spark, art).count()
    out = str(base / "out")
    streaming_embed_assign(spark, vecs_dir, art, out, str(base / "ck"))

    parts = sorted(glob.glob(out + "/batch_id=*"))
    assert len(parts) == 2

    # VERDICT r11 #3: batch_id lives ONLY in the partition directory,
    # so a ROOT-level read of out_dir must work (no duplicate-column
    # collision with partition inference — the ADVICE r10 regression
    # shape) and surface batch_id as the inferred partition column of
    # an integral type; leaf reads carry no batch_id column at all
    root = spark.read.parquet(out)
    assert "batch_id" in root.columns
    assert root.schema["batch_id"].dataType.typeName() in (
        "integer",
        "long",
    )
    assert root.select("batch_id").distinct().count() == 2
    assert root.count() == sum(
        spark.read.parquet(p).count() for p in parts
    )
    assert "batch_id" not in spark.read.parquet(parts[0]).columns

    def rows(df):
        return sorted(
            (r["vec_id"], r["n_matched"], r["best_cos"], r["label"])
            for r in df.select(
                "vec_id", "n_matched", "best_cos", "label"
            ).collect()
        )

    streamed = sorted(
        str(rows(spark.read.parquet(p))) for p in parts
    )
    direct = sorted(
        str(rows(SIM.embed_assign_from_store(b, spark, art)))
        for b in (batch1, batch2)
    )
    assert streamed == direct
    flat = {
        t[0]: t for p in parts for t in rows(spark.read.parquet(p))
    }
    # the exact duplicate of vector 0 matched with cosine 1 and got
    # vector 0's effective label (stored label, or 0 if singleton)
    labels0 = {
        r["doc_id"]: r["label"]
        for r in DD.stored_cluster_labels(spark, art).collect()
    }
    assert flat[9000][1] >= 1 and flat[9000][2] == 1.0
    assert flat[9000][3] == labels0.get(0, 0)
    # every assigned label is either a history effective label or the
    # vector's own id (singleton)
    for vid, t in flat.items():
        if t[1] == 0:
            assert t[3] == vid and t[2] is None
    # the stream never mutates the artifact
    assert DD.stored_cluster_labels(spark, art).count() == n_labels_before


def test_degree_audit_rebuild_trigger(spark, tmp_path):
    """Round-10 read-only degree audit: the crafted two-cluster bridge
    (the deferred-merge fixture) must surface as one bridge event —
    rebuild_due at the default threshold, quiet at threshold 2 — with
    per-node degree deltas for every touched endpoint, and the
    artifact untouched (no appended files)."""
    import glob

    h1 = 0
    h2 = sum(1 << b for b in range(30, 60))
    hb = sum(1 << b for b in range(30, 45))
    hist_sigs = spark.createDataFrame(
        [(1, h1), (2, h1), (3, h2), (4, h2)], "doc_id long, sh long"
    )
    art = str(tmp_path / "art")
    DD.build_cluster_artifact(None, art, sigs=hist_sigs)
    files0 = sorted(glob.glob(os.path.join(art, "**", "*.parquet"),
                              recursive=True))

    batch_sigs = spark.createDataFrame([(10, hb)], "doc_id long, sh long")
    deltas, summary = DD.degree_audit_batch(
        batch_sigs,
        DD.stored_cluster_bands(spark, art),
        DD.stored_cluster_labels(spark, art),
    )
    got = {(r["v"], r["degree_delta"], r["is_new"]) for r in deltas.collect()}
    assert got == {
        (10, 4, True),
        (1, 1, False),
        (2, 1, False),
        (3, 1, False),
        (4, 1, False),
    }
    row = summary.collect()[0]
    assert (
        row["n_new_edges"],
        row["n_new_nodes"],
        row["n_hist_touched"],
        row["n_bridge_events"],
        row["rebuild_due"],
    ) == (4, 1, 4, 1, True)
    # threshold above the observed pressure -> no rebuild flag
    _, quiet = DD.degree_audit_batch(
        batch_sigs,
        DD.stored_cluster_bands(spark, art),
        DD.stored_cluster_labels(spark, art),
        rebuild_threshold=2,
    )
    assert quiet.collect()[0]["rebuild_due"] is False
    # READ-ONLY: the probe appended nothing to the artifact
    files1 = sorted(glob.glob(os.path.join(art, "**", "*.parquet"),
                              recursive=True))
    assert files1 == files0


def test_streaming_degree_audit_matches_batch(spark, tmp_path_factory):
    """stream == batch for the round-10 degree audit: per micro-batch
    the streamed deltas and summary must equal direct
    `degree_audit_batch` calls on the same slices (stateless,
    artifact-read-only — replays overwrite their batch partition)."""
    from whale_sightings_spark.streaming.events import (
        streaming_degree_audit,
    )

    base = tmp_path_factory.mktemp("degree_audit")
    hist = spark.createDataFrame(_ROWS_HIST, _SCHEMA)
    art = str(base / "art")
    DD.build_cluster_artifact(
        None, art, sigs=DD.simhash_signatures(hist)
    )
    docs_dir = str(base / "deltas")
    spark.createDataFrame(_ROWS_DELTA1, _SCHEMA).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    time.sleep(1.1)
    spark.createDataFrame(_ROWS_DELTA2, _SCHEMA).coalesce(1).write.parquet(
        docs_dir, mode="append"
    )
    out = str(base / "out")
    streaming_degree_audit(spark, docs_dir, art, out, str(base / "ck"))

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    dcols = ("v", "degree_delta", "is_new")
    scols = (
        "n_new_edges",
        "n_new_nodes",
        "n_hist_touched",
        "n_bridge_events",
        "rebuild_due",
    )
    streamed = []
    for b in sorted(os.listdir(os.path.join(out, "deltas"))):
        streamed.append(
            (
                rows(spark.read.parquet(os.path.join(out, "deltas", b)), dcols),
                rows(spark.read.parquet(os.path.join(out, "summary", b)), scols),
            )
        )
    direct = []
    for batch in (_ROWS_DELTA1, _ROWS_DELTA2):
        sigs_b = DD.simhash_signatures(
            spark.createDataFrame(batch, _SCHEMA)
        )
        d, s = DD.degree_audit_batch(
            sigs_b,
            DD.stored_cluster_bands(spark, art),
            DD.stored_cluster_labels(spark, art),
        )
        direct.append((rows(d, dcols), rows(s, scols)))
    assert sorted(map(str, streamed)) == sorted(map(str, direct))
    # the delta-1 batch has real structure: doc 10 joins family A,
    # docs 11/12 duplicate each other
    all_deltas = {t[0]: t for batch in streamed for t in batch[0]}
    assert all_deltas[10][2] is True and all_deltas[10][1] >= 2
    assert 11 in all_deltas and 12 in all_deltas
    # ADVICE r10: batch_id lives only in the partition directory, so a
    # ROOT-level read works (no duplicate-column conflict) and yields
    # the batch ids via partition inference (a batch with zero rows —
    # legal for deltas — contributes no rows, hence <=)
    for sub in ("deltas", "summary"):
        root = spark.read.parquet(os.path.join(out, sub))
        assert "batch_id" in root.columns
        assert root.schema["batch_id"].dataType.typeName() in (
            "integer",
            "long",
        )
        per_batch = sum(
            spark.read.parquet(os.path.join(out, sub, b)).count()
            for b in os.listdir(os.path.join(out, sub))
        )
        assert root.count() == per_batch
    summary_root = spark.read.parquet(os.path.join(out, "summary"))
    assert summary_root.select("batch_id").distinct().count() == 2
