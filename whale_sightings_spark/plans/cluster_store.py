"""Build-if-absent caches of the persisted near-dup cluster artifact
(`operators/dedup.py: build_cluster_artifact`) — one per pair graph:
``text`` (SimHash near-dup pairs over documents, keyed by the
documents signature) and ``embed`` (LSH+cosine embedding near-dup
pairs, keyed by the embeddings signature)."""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from whale_sightings_spark.operators import dedup as DD
from whale_sightings_spark.plans.store_utils import (
    artifact_dir,
    publish,
    read_artifact_table,
    reap_dead_staging,
    stat_sig,
)
from whale_sightings_spark.schemas import load_table


def _dir_for(
    spark: SparkSession, sf_dir: str, kind: str, src_file: str, build
) -> str:
    """The ``clusters_<kind>`` store; ``build(spark, sf_dir)`` returns
    ``(pairs, sigs[, evecs])`` for `DD.build_cluster_artifact`."""

    def write(staging: str) -> None:
        built = build(spark, sf_dir)
        evecs = built[2] if len(built) > 2 else None
        DD.build_cluster_artifact(
            built[0], staging, sigs=built[1], evecs=evecs
        )

    return artifact_dir(
        sf_dir,
        src_file,
        f"clusters_{kind}",
        DD.CLUSTER_FORMAT_VERSION,
        DD.cluster_artifact_paths,
        write,
    )


def text_cluster_dir(spark: SparkSession, sf_dir: str) -> str:
    """Converged components over SimHash near-dup pairs of documents.
    v3: signatures computed once feed BOTH the stored sig/band probe
    index and the pair generator (one tokenize pass per build)."""

    def _build(s, d):
        # pairs=None: build derives them from the WRITTEN sig table
        return None, DD.simhash_signatures(load_table(s, d, "documents"))

    return _dir_for(spark, sf_dir, "text", "documents.parquet", _build)


def stored_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) — the SimHash near-dup edge table off
    the persisted text-cluster artifact (round 9: the graph family's
    serve path — PageRank/triangles/k-core/components read this table
    instead of re-deriving pairs from the raw corpus per query)."""
    return DD.stored_cluster_pairs(spark, text_cluster_dir(spark, sf_dir))


def minhash_cluster_dir(spark: SparkSession, sf_dir: str) -> str:
    """Near-dup artifact over the MinHash-LSH pair graph of documents
    (round 10): the pair table keeps the verified ``jaccard`` weight,
    so q15 — the family-origin dedup query — serves from the store
    instead of re-running the full-corpus shingle+sign pass per
    refresh. Build is deterministic (hash-seeded signatures), so the
    stored table is row-equal to re-deriving on the same corpus
    fingerprint; staleness re-keys on the fingerprint."""

    def _build(s, d):
        return DD.minhash_lsh_pairs(load_table(s, d, "documents")), None

    return _dir_for(spark, sf_dir, "minhash", "documents.parquet", _build)


def stored_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) — q15's serve path."""
    return DD.stored_cluster_pairs(spark, minhash_cluster_dir(spark, sf_dir))


def _derived_table(
    spark: SparkSession,
    art: str,
    name: str,
    build,
    src_marker: str | None = None,
) -> DataFrame:
    """Build-if-absent DERIVED table of a cluster artifact: converged
    graph analytics (PageRank scores, k-core profile) live BESIDE the
    pairs/labels they were computed from, so a corpus change re-keys
    them with the whole artifact directory. The table's ``_SUCCESS`` is
    its completeness marker. Tables are node-sized or profile-sized
    (edge-set-bounded), never corpus-scale.

    ``src_marker`` — the ``_SUCCESS`` of the source table this
    derivation reads — closes the concurrent-append race by generation,
    not by deletion order: the builder stamps the source generation it
    read into a ``_GEN`` file BEFORE computing, and the reader treats a
    published derived table whose ``_GEN`` disagrees with the source's
    current marker as absent. A builder that raced a streaming append
    and published stale scores is therefore never served. A missing
    ``_GEN`` reads as stale once and rebuilds."""
    path = os.path.join(art, "derived_" + name)

    def fresh() -> bool:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return False
        if src_marker is None:
            return True
        try:
            with open(os.path.join(path, "_GEN")) as fh:
                seen = fh.read().strip()
        except OSError:
            return False
        return seen == (stat_sig(src_marker) or "")

    def write(staging: str) -> None:
        # stamp the source generation BEFORE computing: if an append
        # lands mid-build, the published _GEN is already behind the
        # moved marker and the next read rebuilds
        gen = (stat_sig(src_marker) or "") if src_marker else None
        build().write.mode("overwrite").parquet(staging)
        if gen is not None:
            with open(os.path.join(staging, "_GEN"), "w") as fh:
                fh.write(gen)

    if not fresh():
        # dead builders' derived_*.tmp.<pid> leftovers live INSIDE the
        # artifact dir, which the sf_root sweep never visits
        reap_dead_staging(art)
        publish(path, write, fresh)
    return read_artifact_table(spark, path)


def stored_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, pr) — PageRank run to the L1 fixpoint (damping
    `graphs.DAMPING_FAST`, tol `graphs.PR_TOL`) over the stored
    SimHash pair table, persisted as a derived table of the text
    cluster artifact. q112 is the oracle-paired BUILD sign-off; the
    serve twins (q256/q257) and dashboards read this table without
    re-running the ~34 damping rounds per query. Stored UNROUNDED;
    consumers round at their output contract."""
    from whale_sightings_spark.operators import graphs as GR

    art = text_cluster_dir(spark, sf_dir)

    def _build():
        return GR.pagerank_converged(
            DD.stored_cluster_pairs(spark, art)
        ).coalesce(1)  # node-sized, edge-set-bounded

    return _derived_table(
        spark,
        art,
        "pagerank",
        _build,
        src_marker=os.path.join(DD.cluster_pairs_path(art), "_SUCCESS"),
    )


def stored_kcore_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(round, n_removed, n_alive) — the fixed-round k-core peel
    profile over the stored pair table, persisted beside the labels
    (q194 is the BUILD sign-off; rounds+1 rows)."""
    from whale_sightings_spark.operators import graphs as GR

    art = text_cluster_dir(spark, sf_dir)

    def _build():
        return GR.kcore_peel(
            DD.stored_cluster_pairs(spark, art)
        ).coalesce(1)

    return _derived_table(
        spark,
        art,
        "kcore",
        _build,
        src_marker=os.path.join(DD.cluster_pairs_path(art), "_SUCCESS"),
    )


def stored_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_nodes, n_edges, n_triangles) — the degree-oriented triangle
    census over the stored pair table, persisted beside pagerank/kcore
    (q107 is the BUILD sign-off; one row). The wedge-closure joins run
    once per corpus fingerprint instead of per dashboard read."""
    from whale_sightings_spark.operators import graphs as GR

    art = text_cluster_dir(spark, sf_dir)

    def _build():
        return GR.triangle_census(
            DD.stored_cluster_pairs(spark, art)
        ).coalesce(1)

    return _derived_table(
        spark,
        art,
        "census",
        _build,
        src_marker=os.path.join(DD.cluster_pairs_path(art), "_SUCCESS"),
    )


#: the drift-audit family's shared history hold: doc_id % HIST_MOD !=
#: HIST_REM is "history", the rest is the held-out ingest slice
#: (q243/q251/q258 all audit against this slice)
HIST_MOD = 5
HIST_REM = 4


def stored_hist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) — the SimHash near-dup pair set derived
    from first principles over the HISTORY slice (doc_id % 5 != 4) of
    the stored signature table, persisted as a derived table of the
    text cluster artifact (round 12, VERDICT r11 #1).

    The three rebuild-drift audits (q243 labels, q251 pairs, q258
    pagerank) all need this identical pair set — banding, hot-bucket
    caps and Hamming verify re-run over `stored_cluster_sigs % hold` —
    and previously each re-derived it per query (together the #1 and
    #3 steady costs). One derivation now runs per artifact generation;
    the audits consume the persisted result. Freshness: keyed on the
    SIG table's `_SUCCESS` generation (`_GEN`), so a streaming append
    that adds signatures both deletes the table (ingest invalidation)
    and ages its generation — either alone forces the rebuild. The
    derivation is deterministic, so the stored rows are value-equal to
    re-deriving inline and every audit oracle is unchanged."""
    from pyspark.sql import functions as F

    art = text_cluster_dir(spark, sf_dir)

    def _build():
        # edge-set-sized (verified near-dup pairs only), never
        # corpus-scale — small enough to compact to a few files
        return DD.simhash_pairs_from_sigs(
            DD.stored_cluster_sigs(spark, art).filter(
                (F.col("doc_id") % HIST_MOD) != HIST_REM
            )
        ).coalesce(4)

    return _derived_table(
        spark,
        art,
        "histpairs",
        _build,
        src_marker=os.path.join(DD.cluster_sigs_path(art), "_SUCCESS"),
    )


def stored_hist_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, label) — connected components converged over the
    history pair set, persisted as a derived table chained on
    `derived_histpairs` (round 12). q243's history side: the label
    convergence re-runs whenever the signature table's generation
    moves (every streaming append, every rebuild) and is served
    otherwise — recomputing an unchanged deterministic derivation per
    query run prices nothing the generation-keyed rebuild doesn't."""
    art = text_cluster_dir(spark, sf_dir)
    hp = stored_hist_pairs(spark, sf_dir)  # ensure built + fresh

    def _build():
        return DD.dedup_components_converged(
            hp.select("doc_a", "doc_b")
        ).coalesce(1)  # node-sized

    return _derived_table(
        spark,
        art,
        "histlabels",
        _build,
        src_marker=os.path.join(art, "derived_histpairs", "_SUCCESS"),
    )


def stored_hist_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, pr) — PageRank to the L1 fixpoint over the history pair
    set, persisted as a derived table chained on `derived_histpairs`
    (round 12). q258's history side; same generation contract as
    :func:`stored_hist_labels`."""
    from whale_sightings_spark.operators import graphs as GR

    art = text_cluster_dir(spark, sf_dir)
    hp = stored_hist_pairs(spark, sf_dir)

    def _build():
        return GR.pagerank_converged(
            hp.select("doc_a", "doc_b")
        ).coalesce(1)  # node-sized

    return _derived_table(
        spark,
        art,
        "histpagerank",
        _build,
        src_marker=os.path.join(art, "derived_histpairs", "_SUCCESS"),
    )


def embed_cluster_dir(spark: SparkSession, sf_dir: str) -> str:
    """Converged components over embedding near-dup pairs (vec ids)."""
    from pyspark.sql import functions as F

    from whale_sightings_spark.operators import similarity as SIM

    def _pairs(s, d):
        emb = load_table(s, d, "embeddings")
        # v5: the verified cos weight rides the pair table so q19
        # serves pairs+weights straight off the store
        pairs = SIM.embedding_neardup_pairs(emb).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"),
            "cos",
        )
        # v4: persist the vectors + hyperplane band index beside the
        # labels, enabling the read-only streaming assign probe
        return pairs, None, emb.select("vec_id", "embedding")

    return _dir_for(spark, sf_dir, "embed", "embeddings.parquet", _pairs)


def stored_embed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, cos) — the embedding near-dup edge table off the
    persisted embed-cluster artifact (q19's serve path)."""
    return DD.stored_cluster_pairs(spark, embed_cluster_dir(spark, sf_dir))


#: q255's arriving-vector slice: vec_id % MOD == REM arrives, the rest
#: is the indexed history — scale-proportional at every SF (2%)
EASSIGN_MOD = 50
EASSIGN_REM = 7


def embed_hist_cluster_dir(spark: SparkSession, sf_dir: str) -> str:
    """History-slice embed artifact for the q255 incremental-assign
    audit: the v4 embed store (vectors + band index + frozen bucket
    stats + converged labels) built over the vec_id % EASSIGN_MOD !=
    EASSIGN_REM slice, so the held-out 2% can be assigned against it
    exactly as arriving data would be."""
    from pyspark.sql import functions as F

    from whale_sightings_spark.operators import similarity as SIM

    def _pairs(s, d):
        emb = load_table(s, d, "embeddings").filter(
            (F.col("vec_id") % EASSIGN_MOD) != EASSIGN_REM
        )
        pairs = SIM.embedding_neardup_pairs(emb).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"),
            "cos",
        )
        return pairs, None, emb.select("vec_id", "embedding")

    return _dir_for(spark, sf_dir, "embedhist", "embeddings.parquet", _pairs)
