"""Deduplication operators for training-data pipelines (net-new scale
surface, BASELINE.json north star).

Five families, each a pure DataFrame op over ``documents(doc_id, text,
lang, source, n_chars)`` / ``embeddings(vec_id, embedding, label)``:

- **exact**: fingerprint group-by, min-doc_id survivor. One shuffle on
  the fingerprint; survives any scale.
- **MinHash + LSH**: shingle -> 8-slot signature -> 4x2 banding ->
  bucket self-join for candidates -> exact Jaccard verify. The join is
  on band keys (tiny), never all-pairs.
- **SimHash**: 60-bit signature, 15-bit band blocking, Hamming verify.
- **n-gram Jaccard**: inverted shingle index self-join with a
  document-frequency cap (hot shingles dropped — the classic scale
  guard against quadratic bucket blowup).
- **embedding cosine**: see operators/similarity (hyperplane-LSH
  blocked near-dup).

Every operator is arithmetic-identical in Spark and DuckDB (see
functions/hashing) so the driver's oracle verifies them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whale_sightings_spark.functions.hashing import (
    MINHASH_BANDS,
    MINHASH_ROWS_PER_BAND,
    band_keys,
    minhash_signature_from_hashes,
    simhash,
    simhash_band,
    hamming60,
    hash60,
)
from whale_sightings_spark.functions.text import (
    fingerprint_md5,
    shingles_from_tokens,
    tokens,
)
from whale_sightings_spark.session import barrier

#: shingle width for MinHash / Jaccard
SHINGLE_N = 3
#: drop shingles appearing in more than this many docs (hot-key guard)
MAX_SHINGLE_DF = 100
#: Jaccard threshold for near-dup pairs
JACCARD_THRESHOLD = 0.4
#: Hamming threshold for SimHash near-dup
HAMMING_THRESHOLD = 20

#: LSH band buckets larger than this are skipped during candidate
#: generation (quadratic hot-bucket guard; mirrored in the oracles)
MAX_BAND_BUCKET = 1000


def _bucket_candidate_pairs(banded: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Candidate pairs from a banded table ``(doc_id, band, *extra)``.

    One groupBy on the band key + in-bucket pair expansion — the
    signature computation runs ONCE and shuffles once; the textbook
    banded self-join computes and shuffles the corpus twice. Buckets
    with more than MAX_BAND_BUCKET docs are dropped (a hot band —
    boilerplate-heavy corpora produce them — would otherwise expand
    quadratically); the cap is applied identically in the DuckDB
    oracles, so it is part of the operator's contract, not a silent
    truncation. Output: (doc_a, doc_b, *extra_a, *extra_b) with
    doc_a < doc_b, NOT deduped across bands (callers ``.distinct()``).
    """
    item = F.struct("doc_id", *extra)
    buckets = (
        banded.groupBy("band")
        .agg(F.sort_array(F.collect_list(item)).alias("items"))
        .filter((F.size("items") > 1) & (F.size("items") <= MAX_BAND_BUCKET))
    )
    cols = [
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    ]
    for c in extra:
        cols.append(F.col(f"a.{c}").alias(f"{c}_a"))
        cols.append(F.col(f"b.{c}").alias(f"{c}_b"))
    # r12: expand pairs as posexplode + per-anchor tail explode instead
    # of materializing the nested pair-of-structs array per bucket and
    # flattening it — the same (i < j) pairs without allocating the
    # O(k^2) intermediate array-of-arrays (measured ~15% off the
    # expansion stage at sf0.1; same rows, same order contract).
    return (
        buckets.select("items", F.posexplode("items").alias("i", "a"))
        .select(
            "a",
            F.explode(
                F.slice("items", F.col("i") + 2, F.size("items"))
            ).alias("b"),
        )
        .select(*cols)
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: survivor =
    min(doc_id) per group; returns survivors with group size."""
    return (
        docs.select(F.col("doc_id"), fingerprint_md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("group_size"))
    )


def _shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles) with tokenization staged into its own
    projection. Each stage materializes exactly once: expressions
    referenced repeatedly by the next stage must be column refs, or
    Spark re-evaluates them per reference (no CSE inside higher-order
    lambdas; CollapseProject keeps non-cheap multi-referenced
    projections staged)."""
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id", shingles_from_tokens(F.col("toks"), SHINGLE_N).alias("shingles")
        )
    )


def _shingle_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) pairs, distinct, with hot shingles dropped.

    ``explode_outer`` + post-filter, NOT plain ``explode``: for the
    non-outer form Catalyst infers a ``size(e) > 0`` filter and pushes
    it below the staging projections, re-inlining the whole shingle
    expression (re-tokenizing per element) into the Filter — ~10x the
    scan cost. The outer generate is exempt from that rule."""
    pairs = (
        _shingled(docs)
        .select("doc_id", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
        .distinct()
    )
    df_counts = pairs.groupBy("shingle").agg(F.count("*").alias("df"))
    return pairs.join(
        df_counts.filter(F.col("df") <= MAX_SHINGLE_DF).select("shingle"), "shingle"
    )


def ngram_jaccard_pairs(
    docs: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Near-dup candidate pairs by exact n-gram Jaccard >= threshold.

    Inverted-index self-join on shingles: |A ∩ B| per pair from the
    index, |A| / |B| from per-doc distinct counts. The df cap bounds
    per-shingle fan-out, keeping the join linear-ish at scale.

    ``pairs`` overrides the inline `_shingle_docs` computation with a
    pre-built df-capped (doc_id, shingle) posting table — the persisted
    shingle index's `capped_postings` serve path (round 8).
    """
    if pairs is None:
        pairs = _shingle_docs(docs)
    # referenced once per pair side (sa, sb) — each reference would
    # replay the postings scan + agg
    sizes = (
        pairs.groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
        .transform(barrier)
    )

    # the shingle inverted index is a banded table: group each shingle's
    # (df-capped, <= MAX_SHINGLE_DF) posting list, expand in-bucket
    # pairs, count per pair = |A ∩ B|. Two shuffles total; the naive
    # index self-join shuffles the index twice and joins quadratically.
    inter = (
        _bucket_candidate_pairs(pairs.select(F.col("shingle").alias("band"), "doc_id"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def _banded_minhash(docs: DataFrame) -> DataFrame:
    """(doc_id, band) MinHash-LSH band keys. The "has >= SHINGLE_N
    tokens" predicate is applied to raw text BEFORE staging: filters on
    the staged array would be pushed below the projections with the
    full expression re-inlined (see _shingle_docs); this form costs one
    split per row at the scan. Each stage (md5 per shingle, 8
    arithmetic mins, banding) references a materialized column."""
    return (
        _shingled(docs.filter(F.size(tokens(F.col("text"))) >= SHINGLE_N))
        .select("doc_id", F.transform("shingles", hash60).alias("hashed"))
        .select("doc_id", minhash_signature_from_hashes(F.col("hashed")).alias("sig"))
        .select("doc_id", F.explode(band_keys(F.col("sig"))).alias("band"))
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash-LSH candidate pairs with exact-Jaccard verification.

    shingle -> signature -> band keys -> bucket self-join (distinct
    pairs) -> verify with true Jaccard from the shingle index. At scale
    only the banding join runs over the corpus; verification touches
    candidate pairs only.
    """
    # the "has >= SHINGLE_N tokens" predicate is applied to raw text
    # BEFORE staging: filters on the staged array would be pushed below
    # the projections with the full expression re-inlined (see
    # _shingle_docs); this form costs one split per row at the scan
    cands = _bucket_candidate_pairs(_banded_minhash(docs)).distinct()

    pairs = _shingle_docs(docs)
    sizes = pairs.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    pa = pairs.select(F.col("doc_id").alias("doc_a"), F.col("shingle"))
    pb = pairs.select(F.col("doc_id").alias("doc_b"), F.col("shingle"))
    inter = (
        cands.join(pa, "doc_a")
        .join(pb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_incremental_pairs(
    docs: DataFrame, split_id: int, pairs: DataFrame | None = None
) -> DataFrame:
    """Incremental near-dup: which NEW documents (doc_id >= split_id)
    near-duplicate the EXISTING corpus (doc_id < split_id) — the
    daily-delta shape of q15. The delta's band keys probe the history's
    band index; history x history pairs are never generated, so the
    per-ingest cost is O(delta) band joins, not O(corpus). The
    hot-bucket cap applies to HISTORY bucket sizes (a boilerplate
    band in the historical index would otherwise fan every delta doc
    out quadratically); in production the history band index is
    precomputed and bucketed on band, making the probe exchange-free.
    Exact-Jaccard verification touches candidate pairs only.
    ``pairs`` overrides the inline `_shingle_docs` verify side with the
    persisted shingle index's df-capped posting table (round 9 — the
    q14 serve convention). Returns
    (doc_new, doc_hist, jaccard >= JACCARD_THRESHOLD).
    """
    # one banding pass over the corpus, split AFTER materialization —
    # history and batch otherwise each re-tokenize/re-hash their half
    banded_all = barrier(_banded_minhash(docs))
    hb = banded_all.filter(F.col("doc_id") < split_id)
    bb = banded_all.filter(F.col("doc_id") >= split_id)
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
    if pairs is None:
        pairs = _shingle_docs(docs)
    # r12 (the q191 verify shape): per-doc shingle arrays + one
    # size(array_intersect()) per candidate pair replace the exploded
    # double join + re-aggregation and both size-table joins (the
    # postings are distinct per (doc_id, shingle), so the intersect
    # size IS the exploded count). The trivial per-pair aggregation is
    # the q191 optimizer barrier: it keeps the jaccard filter out of
    # the join condition, where array_intersect would be re-evaluated
    # per conjunct.
    # referenced once per pair side — each reference would replay the
    # postings scan + collect_list agg (no exchange reuse: the sides
    # prune differently)
    arrs = (
        pairs.groupBy("doc_id")
        .agg(
            F.collect_list("shingle").alias("shs"),
            F.count("*").alias("n_shingles"),
        )
        .transform(barrier)
    )
    j = cands.join(
        arrs.select(
            F.col("doc_id").alias("doc_new"),
            F.col("shs").alias("shs_n"),
            F.col("n_shingles").alias("size_n"),
        ),
        "doc_new",
    ).join(
        arrs.select(
            F.col("doc_id").alias("doc_hist"),
            F.col("shs").alias("shs_h"),
            F.col("n_shingles").alias("size_h"),
        ),
        "doc_hist",
    )
    nc = j.groupBy("doc_new", "doc_hist", "size_n", "size_h").agg(
        F.max(F.size(F.array_intersect("shs_n", "shs_h")))
        .cast("long")
        .alias("n_common")
    )
    return (
        nc.withColumn(
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


def minhash_estimate_audit(
    docs: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Sketch-quality audit for the MinHash path: for every LSH
    candidate pair, the signature-estimated Jaccard (matching
    components / signature length) against the exact shingle-set
    Jaccard, with the absolute error — the measurement that decides
    whether the signature length / banding scheme is adequate before
    trusting q15's candidates at corpus scale (the q116 role, for the
    text-dedup index).

    Same stage shapes as ``minhash_lsh_pairs``: banding join over the
    corpus, exact verification over candidate pairs only. Pairs whose
    banding collision is a false positive (zero shared shingles) stay
    in the output with exact = 0 — those are precisely the audit's
    most interesting rows, so candidates LEFT-join the intersection
    counts. The signature derivation stays inline (it IS the thing
    under audit); ``pairs`` overrides the exact-Jaccard verify side
    with the persisted shingle index's df-capped posting table
    (round 9 — the q14 serve convention).
    """
    staged = (
        _shingled(docs.filter(F.size(tokens(F.col("text"))) >= SHINGLE_N))
        .select("doc_id", F.transform("shingles", hash60).alias("hashed"))
        .select("doc_id", minhash_signature_from_hashes(F.col("hashed")).alias("sig"))
        # three consumers (banding + both signature sides of the
        # estimate join) — the signature pass runs once
        .transform(barrier)
    )
    banded = staged.select("doc_id", F.explode(band_keys(F.col("sig"))).alias("band"))
    cands = _bucket_candidate_pairs(banded).distinct()

    siglen = MINHASH_BANDS * MINHASH_ROWS_PER_BAND
    sa = staged.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = staged.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
                lambda m: m,
            )
        )
        / F.lit(float(siglen))
    )

    if pairs is None:
        pairs = _shingle_docs(docs)
    # r12 (the q191 verify shape): fetch each doc's (distinct by
    # construction) shingle ARRAY once and count the overlap per
    # candidate pair with size(array_intersect()) — the exact n_common
    # the exploded double join + re-aggregation produced, without
    # shuffling the posting lists per candidate. The per-doc size rides
    # on the same row, so the two size-table joins disappear too
    # (5 post-candidate joins -> 3).
    # referenced once per pair side — each reference would replay the
    # postings scan + collect_list agg (no exchange reuse: the sides
    # prune differently)
    arrs = (
        pairs.groupBy("doc_id")
        .agg(
            F.collect_list("shingle").alias("shs"),
            F.count("*").alias("n_shingles"),
        )
        .transform(barrier)
    )
    n_common = F.size(F.array_intersect("shs_a", "shs_b"))
    exact = n_common / (
        F.col("size_a") + F.col("size_b") - n_common
    )
    return (
        cands.join(
            arrs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shs").alias("shs_a"),
                F.col("n_shingles").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shs").alias("shs_b"),
                F.col("n_shingles").alias("size_b"),
            ),
            "doc_b",
        )
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            # Round-inputs-first: differencing the already-6dp-rounded shares
            # keeps the final round far from 0.5e-6 boundaries, where Spark's
            # BigDecimal HALF_UP and DuckDB's std::round(x*1e6)/1e6 can
            # disagree by 1 ulp (the q196/q159 divergence class).
            F.round(F.abs(F.round(est, 6) - F.round(exact, 6)), 6).alias("abs_err"),
        )
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) over whitespace tokens. The token-hash array is
    staged so the 60 per-bit aggregates reference a materialized column
    (inline, the md5 transform would re-run once per bit)."""
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .filter(F.size("toks") > 0)
        .select("doc_id", F.transform(F.col("toks"), hash60).alias("hashes"))
        .select("doc_id", simhash(F.col("hashes")).alias("sh"))
    )


def simhash_banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, sh, band) — the 4 15-bit band keys per signature
    (row-local explode; shared by the batch pair generator and the
    incremental cluster-ingest probe)."""
    return sigs.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(*[
                F.concat_ws(":", F.lit(str(i)), simhash_band(F.col("sh"), i).cast("string"))
                for i in range(4)
            ])
        ).alias("band"),
    )


def simhash_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """SimHash near-dup pairs from precomputed signatures: band
    blocking + Hamming verify (the signature-level core of
    ``simhash_pairs``)."""
    cands = _bucket_candidate_pairs(
        simhash_banded(sigs), extra=("sh",)
    ).distinct()
    return (
        cands.withColumn("hamming", hamming60(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """SimHash near-dup pairs: 15-bit band blocking + Hamming verify."""
    return simhash_pairs_from_sigs(simhash_signatures(docs))


#: label-propagation rounds for dedup cluster assignment; a FIXED count
#: (not run-to-convergence) so the operator is deterministic and
#: SQL-expressible — the oracle runs the identical rounds
COMPONENT_ITERATIONS = 3


def dedup_components(pairs: DataFrame, iterations: int = COMPONENT_ITERATIONS) -> DataFrame:
    """Near-dup cluster assignment: min-label propagation over the pair
    graph (the completion step after any pair generator — pick one
    survivor per cluster).

    Each round every node takes the min of its own label and its
    neighbors' labels; after k rounds, labels agree within any component
    of diameter <= k. Per round: one join + one aggregation over the
    EDGE set (candidate pairs only — corpus-scale independent). Exact
    connected components would iterate to fixpoint; the fixed-k variant
    ("k-hop min label") keeps the plan static and the oracle equivalent.
    Returns (doc_id, label).
    """
    # the pair generator upstream (LSH banding + verification) is the
    # expensive lineage here, and `directed` fans out into FIVE scans
    # below (both edge directions, twice inside the node-distinct, the
    # self-loop branch); without the barrier the branch stages of the
    # one fixed-k job each re-run the generator (round 3 measured q29
    # at 4.3x cold vs steady). The pair set is candidates only, so
    # materializing it is cheap at any SF.
    directed = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).transform(barrier)
    nodes = (
        directed.select(F.col("src").alias("v"))
        .unionByName(directed.select(F.col("dst").alias("v")))
        .distinct()
    )
    # Self-loops fold the "least(own label, neighbor min)" step into the
    # neighbor aggregation itself: min over N(v) ∪ {v} == least(own, nbr
    # min). Each round is then ONE join + ONE partial-agg min — no
    # left-join-back to recombine with the previous labels.
    edges = (
        directed.unionByName(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .unionByName(nodes.select(F.col("v").alias("src"), F.col("v").alias("dst")))
    )
    # iterative working set: without materialization every round
    # re-derives the edge union. Hash-partitioning on dst BEFORE the
    # barrier means the materialized scan reports that
    # outputPartitioning, so every round's join reshuffles only the
    # (small) labels side, never the edges.
    edges = barrier(edges.repartition("dst"))
    labels = nodes.select(
        F.col("v").alias("doc_id"), F.col("v").alias("label")
    )
    for _ in range(iterations):
        labels = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("doc_id"), "label")
        )
    return labels


def dedup_components_converged(
    pairs: DataFrame, max_rounds: int = 50
) -> DataFrame:
    """Min-label propagation run to FIXPOINT — true connected
    components, the convergence-mode sibling of :func:`dedup_components`
    (whose fixed k is a deliberate contract: components of diameter > k
    stay split).

    Each round combines the q29 neighbor-min step (one join + one
    min-agg over the persisted, dst-partitioned edge set) with a
    POINTER-JUMPING step (label <- label's label, one node-table
    self-join) — the classic MapReduce connected-components
    acceleration: neighbor-min alone needs diameter rounds, adding the
    jump converges in O(log diameter). The driver-side convergence
    check exploits monotonicity — labels only ever DECREASE, so
    sum(label) is strictly decreasing until the fixpoint and one scalar
    aggregate per round detects it (a bounded driver value, same class
    as the clean.py bounds probes — not a row collect).
    A ``barrier`` truncates lineage each round so round N's plan
    never embeds rounds 1..N-1 (the standard Spark iterative-graph
    pattern; GraphFrames checkpoints the same way). ``max_rounds`` is
    the runaway backstop.
    Returns (doc_id, label) with label = min doc_id of the component.
    """
    # barrier before branching (see dedup_components)
    directed = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).transform(barrier)
    nodes = (
        directed.select(F.col("src").alias("v"))
        .unionByName(directed.select(F.col("dst").alias("v")))
        .distinct()
    )
    edges = (
        directed.unionByName(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .unionByName(nodes.select(F.col("v").alias("src"), F.col("v").alias("dst")))
    )
    edges = edges.repartition("dst").persist()
    # the probe sums into decimal(38,0): Spark's non-ANSI long sum wraps
    # silently, and at extreme id scales a wrapped sum could in theory
    # alias across rounds and terminate the loop early
    _label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    labels = nodes.select(
        F.col("v").alias("doc_id"), F.col("v").alias("label")
    ).transform(barrier)
    prev_sum = labels.agg(_label_sum).collect()[0][0]
    for _ in range(max_rounds):
        stepped = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("doc_id"), "label")
        )
        # pointer jump: a node's label is itself a node id, so its
        # current label can be looked up and is always <= the node's
        # own (min-propagation keeps labels <= id); one self-join
        # doubles the effective propagation distance per round
        jump = stepped.select(
            F.col("doc_id").alias("jv"), F.col("label").alias("jl")
        )
        labels = (
            stepped.join(jump, stepped.label == jump.jv)
            .select("doc_id", F.col("jl").alias("label"))
        ).transform(barrier)
        cur_sum = labels.agg(_label_sum).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # labels sits behind a barrier: the persisted working
    # sets are dead weight now — free them so repeated invocations in
    # one session don't stack edge copies in the block manager
    edges.unpersist()
    directed.unpersist()
    return labels


# ---------------------------------------------------------------------------
# Persisted near-dup cluster artifact — the FIFTH build-once/serve-many
# artifact (round 8, VERDICT r7 #7). The converged component labels
# over a near-dup pair graph are exactly the table three downstream
# consumers (leakage-safe splitting, quality-aware survivor selection,
# semantic-dedup pressure audits) each recompute per query: the pair
# generator + an iterative propagation loop. Persist (doc_id, label)
# once per corpus fingerprint and those consumers collapse to a parquet
# scan + one keyed join — no propagation loop (no ExistingRDD scans) in
# any serving DAG.
# ---------------------------------------------------------------------------

#: bump to invalidate persisted cluster labels when the pair-generator
#: constants (simhash bits / bands / thresholds) change.
#: v2 (round 9): the artifact also persists the pair/edge table the
#: labels were converged over, bucketed by hash(doc_a).
#: v3 (round 9): + the signature table and band probe index for the
#: text graph, enabling O(delta) streaming cluster ingest.
#: v4 (round 9): the EMBED graph persists its hyperplane band index,
#: frozen per-bucket counts, and the vectors themselves, enabling the
#: read-only O(delta) streaming assign (`similarity.
#: embed_assign_from_store`).
#: v5 (round 10): the embed pair table keeps the verified ``cos``
#: weight (q19 serves from the store), a third ``minhash`` graph
#: persists (doc_a, doc_b, jaccard) so q15 serves from the store, and
#: the text graph grows DERIVED converged-analytics tables
#: (pagerank / kcore — `plans.cluster_store.stored_pagerank`).
CLUSTER_FORMAT_VERSION = 5

_CLUSTER_SCHEMA = "doc_id bigint, label bigint"

#: pair-table layout buckets — hash(doc_a) % N partition column so a
#: keyed edge probe prunes and the write parallelizes; at 100 TB the
#: edge set is the big table here, the labels are cluster-count-bounded
N_PAIR_BUCKETS = 16


def cluster_artifact_paths(artifact_dir: str) -> str:
    """labels dir under ``artifact_dir`` (its _SUCCESS — written LAST —
    is the completeness marker for the whole artifact)."""
    return artifact_dir.rstrip("/") + "/labels"


def cluster_sigs_path(artifact_dir: str) -> str:
    """sigs dir — (doc_id, sh) SimHash signatures (text graph only):
    the ingest seen-set AND the source of band keys for new batches."""
    return artifact_dir.rstrip("/") + "/sigs"


def cluster_bands_path(artifact_dir: str) -> str:
    """bands dir — (band, doc_id, sh) probe index, partitioned by
    hash(band) bucket so a delta's band probe prunes to its buckets."""
    return artifact_dir.rstrip("/") + "/bands"


def cluster_merges_path(artifact_dir: str) -> str:
    """merges dir — (label_kept, label_deferred) rows appended when a
    streamed batch bridges two existing clusters: the stored labels of
    the deferred cluster are NOT rewritten (labels are append-only
    between rebuilds), so accumulated rows here are the REBUILD
    TRIGGER a maintenance job watches (see cluster_merge_pressure)."""
    return artifact_dir.rstrip("/") + "/merges"


def cluster_evecs_path(artifact_dir: str) -> str:
    """evecs dir (embed graph, v4) — (vec_id, embedding): the verify
    side of the read-only streaming assign probes THESE stored vectors
    (candidates only), never the source table."""
    return artifact_dir.rstrip("/") + "/evecs"


def cluster_ebands_path(artifact_dir: str) -> str:
    """ebands dir (embed graph, v4) — (bi, bk, vec_id) hyperplane band
    probe index, partitioned by hash(bi, bk) bucket."""
    return artifact_dir.rstrip("/") + "/ebands"


def cluster_eband_stats_path(artifact_dir: str) -> str:
    """eband_stats dir (embed graph, v4) — (bi, bk, bucket_n): FROZEN
    per-bucket sizes written at build, so the arriving-vector probe's
    hot-bucket cap is a broadcast of a tiny table, not a per-trigger
    re-aggregation of the band index."""
    return artifact_dir.rstrip("/") + "/eband_stats"


def cluster_pairs_path(artifact_dir: str) -> str:
    """pairs dir under ``artifact_dir`` — the near-dup edge table the
    labels were converged over (round 9, the SEVENTH persisted
    artifact surface: the graph family serves from it instead of
    re-deriving SimHash pairs from the raw corpus per query)."""
    return artifact_dir.rstrip("/") + "/pairs"


def build_cluster_artifact(
    pairs: DataFrame | None,
    artifact_dir: str,
    sigs: DataFrame | None = None,
    evecs: DataFrame | None = None,
) -> str:
    """Persist the pair/edge table, then run min-label propagation to
    convergence over the STORED pairs and persist the (doc_id, label)
    table. Only nodes that appear in a pair are stored (singletons are
    implicit — consumers coalesce(label, doc_id), exactly as they did
    against the inline propagation).

    Write order is part of the crash contract: pairs first, labels
    last — labels/_SUCCESS marks the artifact complete, so a build torn
    between the two tables reads as absent and rebuilds. Converging
    over the written pairs (not the incoming lineage) also truncates
    the expensive band-join lineage before the propagation rounds.
    """
    spark = (
        pairs if pairs is not None else (sigs if sigs is not None else evecs)
    ).sparkSession
    if evecs is not None:
        # v4 (embed graph): vectors + hyperplane band index + FROZEN
        # bucket sizes, written before pairs/labels so the
        # completeness marker covers them; the read-only streaming
        # assign probes these instead of re-signing history
        from whale_sightings_spark.operators import similarity as SIM

        (
            evecs.select(F.col("vec_id").cast("long"), "embedding")
            .write.mode("overwrite")
            .parquet(cluster_evecs_path(artifact_dir))
        )
        stored_vecs = spark.read.parquet(cluster_evecs_path(artifact_dir))
        ebands = SIM.lsh_banded(
            stored_vecs.select(
                "vec_id",
                SIM.lsh_signature(F.col("embedding")).alias("sig"),
            )
        ).withColumn(
            "ebucket", F.pmod(F.hash("bi", "bk"), F.lit(N_PAIR_BUCKETS))
        )
        (
            ebands.repartition("ebucket")
            .write.mode("overwrite")
            .partitionBy("ebucket")
            .parquet(cluster_ebands_path(artifact_dir))
        )
        (
            spark.read.parquet(cluster_ebands_path(artifact_dir))
            .groupBy("bi", "bk")
            .agg(F.count("*").cast("bigint").alias("bucket_n"))
            .write.mode("overwrite")
            .parquet(cluster_eband_stats_path(artifact_dir))
        )
    if sigs is not None:
        # v3 (text graph): signatures + band probe index, written
        # before pairs/labels so the completeness marker still covers
        # them; the streaming ingest probes bands and appends to both
        (
            sigs.select(F.col("doc_id").cast("long"), "sh")
            .write.mode("overwrite")
            .parquet(cluster_sigs_path(artifact_dir))
        )
        stored_sigs = spark.read.schema("doc_id long, sh long").parquet(
            cluster_sigs_path(artifact_dir)
        )
        (
            simhash_banded(stored_sigs)
            .withColumn(
                "bucket", F.pmod(F.hash("band"), F.lit(N_PAIR_BUCKETS))
            )
            .repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(cluster_bands_path(artifact_dir))
        )
        if pairs is None:
            # derive the pair table from the WRITTEN signatures — one
            # tokenize pass per build, and the banding job starts from
            # parquet instead of replaying the corpus scan
            pairs = simhash_pairs_from_sigs(stored_sigs)
    pairs_dir = cluster_pairs_path(artifact_dir)
    (
        pairs.withColumn(
            "pbucket", F.pmod(F.hash(F.col("doc_a")), F.lit(N_PAIR_BUCKETS))
        )
        .repartition("pbucket")
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(pairs_dir)
    )
    stored_pairs = spark.read.parquet(pairs_dir).drop("pbucket")
    labels = dedup_components_converged(stored_pairs)
    labels_dir = cluster_artifact_paths(artifact_dir)
    (
        labels.select(
            F.col("doc_id").cast("bigint"), F.col("label").cast("bigint")
        )
        .coalesce(1)  # edge-set-bounded, not corpus-scale
        .write.mode("overwrite")
        .parquet(labels_dir)
    )
    return artifact_dir


def compact_cluster_artifact(spark, artifact_dir: str) -> dict[str, int]:
    """Artifact maintenance after streaming ingest: every per-batch
    append fragments the sig/band/pair/label/merge tables by one file
    set; compaction rewrites each table in its own layout (bands and
    pairs keep their bucket partitioning), de-duplicates the merge
    ledger, and leaves row content byte-identical to every reader —
    appends are already anti-joined, so there are no partials to
    collapse, only fragmentation to fold.

    Runs under the ``COMPACTING`` sentinel (`plans.store_utils`);
    ``labels``, the completeness-marker table, swaps first. Tables the
    embed graph does not materialize (sigs/bands/merges) are
    skipped."""
    import os

    from whale_sightings_spark.plans.store_utils import (
        compacting_sentinel,
        parquet_files,
        swap_table,
    )

    tables = (
        ("labels", cluster_artifact_paths(artifact_dir)),
        ("pairs", cluster_pairs_path(artifact_dir)),
        ("sigs", cluster_sigs_path(artifact_dir)),
        ("bands", cluster_bands_path(artifact_dir)),
        ("merges", cluster_merges_path(artifact_dir)),
        ("evecs", cluster_evecs_path(artifact_dir)),
        ("ebands", cluster_ebands_path(artifact_dir)),
        ("eband_stats", cluster_eband_stats_path(artifact_dir)),
    )
    roots = [d for _, d in tables]
    before = parquet_files(*roots)
    sentinel = compacting_sentinel(artifact_dir)
    with open(sentinel, "w") as fh:
        fh.write(str(os.getpid()))
    for key, live in tables:
        if not os.path.isdir(live):
            continue  # embed graph: no sigs/bands/merges
        df = spark.read.parquet(live)
        if key == "merges":
            df = df.distinct()
        if key in ("pairs", "bands", "ebands"):
            part = {"pairs": "pbucket", "bands": "bucket", "ebands": "ebucket"}[key]
            swap_table(
                live,
                lambda staging, df=df, part=part: (
                    df.repartition(part)
                    .write.mode("overwrite")
                    .partitionBy(part)
                    .parquet(staging)
                ),
            )
        elif key in ("labels", "merges", "eband_stats"):
            # edge-set-bounded / ledger-sized — one file each
            swap_table(
                live,
                lambda staging, df=df: (
                    df.coalesce(1).write.mode("overwrite").parquet(staging)
                ),
            )
        else:
            # sigs scale with the corpus: defrag without forcing one file
            swap_table(
                live,
                lambda staging, df=df: (
                    df.write.mode("overwrite").parquet(staging)
                ),
            )
    os.remove(sentinel)
    return {"files_before": before, "files_after": parquet_files(*roots)}


def _read_stored(spark, path: str, schema=None) -> DataFrame:
    # memoized on the _SUCCESS stat signature: every mutation path
    # (build, streaming append, compaction swap) rewrites the marker
    from whale_sightings_spark.plans.store_utils import (
        read_artifact_table,
    )

    return read_artifact_table(spark, path, schema)


def stored_cluster_pairs(spark, artifact_dir: str) -> DataFrame:
    """The near-dup edge table the stored labels were converged over —
    (doc_a, doc_b[, hamming]) for the text graph, (doc_a, doc_b) for
    the embedding graph. Build is deterministic, so this is row-equal
    to re-running the pair generator on the same corpus fingerprint."""
    return _read_stored(spark, cluster_pairs_path(artifact_dir)).drop(
        "pbucket"
    )


def stored_cluster_labels(spark, artifact_dir: str) -> DataFrame:
    """(doc_id, label) — the converged component labels."""
    return _read_stored(
        spark, cluster_artifact_paths(artifact_dir), _CLUSTER_SCHEMA
    )


def stored_cluster_sigs(spark, artifact_dir: str) -> DataFrame:
    """(doc_id, sh) — SimHash signatures of every ingested doc."""
    return _read_stored(
        spark, cluster_sigs_path(artifact_dir), "doc_id long, sh long"
    )


def stored_cluster_bands(spark, artifact_dir: str) -> DataFrame:
    """(band, doc_id, sh) — the band probe index (bucket partition
    column dropped after the scan so pruning still sees it)."""
    return _read_stored(spark, cluster_bands_path(artifact_dir)).select(
        "band", "doc_id", "sh"
    )


def probe_hist_edges(
    batch_sigs: DataFrame, stored_bands: DataFrame
) -> DataFrame:
    """Verified batch x history near-dup edges (doc_new, doc_hist,
    hamming) from an O(delta) probe of the stored band index — the
    shared front half of `incremental_cluster_assign` and the
    read-only `degree_audit_batch`. The hot-band cap applies to
    HISTORY bucket sizes; a replayed doc that already sits in the
    index is guarded from pairing with itself. Behind a barrier —
    every caller fans it into >= 2 consumers."""
    bb = simhash_banded(batch_sigs)
    kept = (
        stored_bands.groupBy("band")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") <= MAX_BAND_BUCKET)
        .select("band")
    )
    hb = stored_bands.join(kept, "band").select(
        "band",
        F.col("doc_id").alias("doc_hist"),
        F.col("sh").alias("sh_h"),
    )
    return (
        bb.join(hb, "band")
        .select(
            F.col("doc_id").alias("doc_new"),
            F.col("sh").alias("sh_n"),
            "doc_hist",
            "sh_h",
        )
        .distinct()
        # self-probe guard: a replayed doc that already sits in the
        # band index must not pair with itself
        .filter(F.col("doc_new") != F.col("doc_hist"))
        .withColumn("hamming", hamming60(F.col("sh_n"), F.col("sh_h")))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .select("doc_new", "doc_hist", "hamming")
        .transform(barrier)
    )


#: deferred-bridge events per audit batch at or above which the
#: read-only degree audit flags a rebuild (q253's trigger, priced
#: per-batch on the arriving stream instead of per-scan on the store)
GRAPH_REBUILD_BRIDGE_EVENTS = 1


def degree_audit_batch(
    batch_sigs: DataFrame,
    stored_bands: DataFrame,
    stored_labels: DataFrame,
    rebuild_threshold: int = GRAPH_REBUILD_BRIDGE_EVENTS,
) -> tuple[DataFrame, DataFrame]:
    """READ-ONLY streaming-side honesty probe for the persisted graph
    analytics (round 10, VERDICT r9 #5): arriving docs are signed and
    band-probed against the stored index (O(delta), hot-bucket capped,
    the artifact is never written), and the probe prices how stale the
    stored degree profile / converged tables just became.

    Returns ``(deltas, summary)``:

    - ``deltas`` (v, degree_delta, is_new): per-node count of incident
      NEW verified edges — for a history node, how much its stored
      q252 degree is now understating; for a batch node, its initial
      degree. Nodes without new edges don't appear (their stored rows
      are still exact).
    - ``summary`` one row (n_new_edges, n_new_nodes, n_hist_touched,
      n_bridge_events, rebuild_due): ``n_bridge_events`` = sum over
      batch docs of (distinct touched stored cluster labels - 1) —
      each bridge transitively merges two stored components, exactly
      the effect the stored labels/pagerank/kcore tables cannot absorb
      without a rebuild (q253 prices the same pressure batch-side on
      the store; this prices it per-trigger on the stream).
      ``rebuild_due`` fires at ``rebuild_threshold`` events. Chains of
      batch x batch edges joining docs that each touch different
      clusters are intentionally NOT chased (that needs the
      convergence pass this probe exists to avoid); the periodic q258
      drift audit bounds what slips through.
    """
    hist_edges = probe_hist_edges(batch_sigs, stored_bands)
    batch_edges = simhash_pairs_from_sigs(batch_sigs)
    edges = (
        hist_edges.select(
            F.least("doc_new", "doc_hist").alias("doc_a"),
            F.greatest("doc_new", "doc_hist").alias("doc_b"),
        )
        .unionByName(batch_edges.select("doc_a", "doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .transform(barrier)  # feeds deltas and the summary count
    )
    new_ids = batch_sigs.select(F.col("doc_id").alias("v")).distinct()
    deltas = (
        edges.select(F.explode(F.array("doc_a", "doc_b")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("degree_delta"))
        .join(new_ids.withColumn("is_new", F.lit(True)), "v", "left")
        .select(
            "v",
            "degree_delta",
            F.coalesce("is_new", F.lit(False)).alias("is_new"),
        )
    )
    touched = (
        hist_edges.join(
            stored_labels.withColumnRenamed("doc_id", "doc_hist"),
            "doc_hist",
            "left",
        )
        .select(
            "doc_new", F.coalesce("label", "doc_hist").alias("eff_label")
        )
        .distinct()
    )
    bridges = touched.groupBy("doc_new").agg(
        (F.count_distinct("eff_label") - 1).alias("nb")
    )
    summary = (
        edges.agg(F.count("*").cast("bigint").alias("n_new_edges"))
        .crossJoin(
            F.broadcast(
                deltas.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("is_new"), 1).otherwise(0)),
                        F.lit(0),
                    )
                    .cast("bigint")
                    .alias("n_new_nodes"),
                    F.coalesce(
                        F.sum(F.when(~F.col("is_new"), 1).otherwise(0)),
                        F.lit(0),
                    )
                    .cast("bigint")
                    .alias("n_hist_touched"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                bridges.agg(
                    F.coalesce(F.sum("nb"), F.lit(0))
                    .cast("bigint")
                    .alias("n_bridge_events")
                )
            )
        )
        .withColumn(
            "rebuild_due",
            F.col("n_bridge_events") >= F.lit(rebuild_threshold),
        )
    )
    return deltas, summary


def incremental_cluster_assign(
    batch_sigs: DataFrame,
    stored_bands: DataFrame,
    stored_labels: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Assign cluster labels to a batch of NEW documents against the
    persisted artifact — O(delta) band probes, never a history x
    history pass (the q138 incremental contract applied to the SimHash
    graph).

    Returns ``(labels, edges, merges)``:

    - ``labels`` (doc_id, label): every batch doc that acquired at
      least one edge, labeled min over its component of {touched
      existing cluster labels} ∪ {batch doc_ids}. With monotonically
      growing doc_ids (the ingest contract shared by every store), a
      doc joining one existing cluster gets exactly that cluster's
      stored label — identical to what a full rebuild would assign.
      Singletons stay implicit (consumers coalesce(label, doc_id)).
    - ``edges`` (doc_a, doc_b, hamming): verified batch x history and
      batch x batch near-dup pairs, doc_a < doc_b.
    - ``merges`` (label_kept, label_deferred): emitted when one batch
      component touches >= 2 distinct existing clusters. The stored
      rows of the deferred cluster are NOT rewritten — labels are
      append-only between rebuilds — so these rows are the rebuild
      trigger (q243's drift audit prices the same effect for batch
      rebuilds).

    The hot-band cap applies to HISTORY bucket sizes (a boilerplate
    band would fan every delta doc out quadratically); within-batch
    pairs reuse the batch pair generator, whose cap sees batch-local
    sizes — both sides of the same MAX_BAND_BUCKET contract the batch
    operator applies corpus-wide (cap-boundary drift between the two
    is exactly what the rebuild audit measures).
    """
    hist_edges = probe_hist_edges(batch_sigs, stored_bands)
    batch_edges = barrier(simhash_pairs_from_sigs(batch_sigs))
    # history endpoints enter the glue graph AS THEIR CLUSTER LABEL
    # (coalesce covers historical singletons), so min-label propagation
    # over {batch ids} ∪ {touched labels} lands each component on the
    # smallest touched label — or the smallest batch id for new-only
    # components. Labels share the doc_id space (label = min doc_id).
    glue = hist_edges.join(
        stored_labels.withColumnRenamed("doc_id", "doc_hist"),
        "doc_hist",
        "left",
    ).select(
        F.col("doc_new").alias("doc_a"),
        F.coalesce("label", "doc_hist").alias("doc_b"),
    )
    comp = dedup_components_converged(
        glue.unionByName(batch_edges.select("doc_a", "doc_b"))
    )
    new_ids = batch_sigs.select("doc_id").distinct()
    labels = comp.join(new_ids, "doc_id").select("doc_id", "label")
    # merge events: a component holding >= 2 distinct EXISTING labels
    touched = glue.select(F.col("doc_b").alias("doc_id")).distinct()
    merges = (
        comp.join(touched, "doc_id")
        .groupBy("label")
        .agg(F.collect_set("doc_id").alias("ls"))
        .filter(F.size("ls") >= 2)
        .select(
            F.array_min("ls").alias("label_kept"),
            F.explode("ls").alias("label_deferred"),
        )
        .filter(F.col("label_deferred") != F.col("label_kept"))
    )
    edges = (
        hist_edges.select(
            F.least("doc_new", "doc_hist").alias("doc_a"),
            F.greatest("doc_new", "doc_hist").alias("doc_b"),
            "hamming",
        )
        .unionByName(batch_edges)
        # a replayed batch whose bands already landed sees its own
        # intra-batch pairs via BOTH paths — keep each edge once
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return labels, edges, merges


def cluster_merge_pressure(spark, artifact_dir: str) -> DataFrame:
    """REBUILD TRIGGER audit: one row (n_merge_events,
    n_cross_cluster_edges). ``n_merge_events`` counts deferred-merge
    rows appended by the streaming ingest; ``n_cross_cluster_edges``
    counts stored edges whose endpoints carry different effective
    labels — zero on a freshly-built artifact, nonzero exactly when
    deferred merges (or cap drift) have made the stored labels coarser
    than the stored edge set. A maintenance job rebuilds when either
    is nonzero."""
    import os

    edges = stored_cluster_pairs(spark, artifact_dir).select(
        "doc_a", "doc_b"
    )
    labels = stored_cluster_labels(spark, artifact_dir)
    la = labels.select(
        F.col("doc_id").alias("doc_a"), F.col("label").alias("l_a")
    )
    lb = labels.select(
        F.col("doc_id").alias("doc_b"), F.col("label").alias("l_b")
    )
    cross = (
        edges.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("l_a", "doc_a").alias("ea"),
            F.coalesce("l_b", "doc_b").alias("eb"),
        )
        .agg(
            F.coalesce(
                F.sum((F.col("ea") != F.col("eb")).cast("long")), F.lit(0)
            )
            .cast("bigint")
            .alias("n_cross_cluster_edges")
        )
    )
    mdir = cluster_merges_path(artifact_dir)
    if os.path.isdir(mdir):
        nm = (
            spark.read.schema("label_kept long, label_deferred long")
            .parquet(mdir)
            .agg(F.count("*").cast("bigint").alias("n_merge_events"))
        )
    else:
        nm = spark.range(1).select(
            F.lit(0).cast("bigint").alias("n_merge_events")
        )
    return nm.crossJoin(F.broadcast(cross)).select(
        "n_merge_events", "n_cross_cluster_edges"
    )
