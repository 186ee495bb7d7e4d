"""Graph analytics over candidate-pair edge sets (PageRank, triangle
census, degree orientation).

The near-dup pair generators (operators.dedup, operators.similarity)
emit an undirected pair set ``(doc_a, doc_b)`` with ``doc_a < doc_b``.
These operators turn that into centrality and structure metrics used
for cluster-representative selection and duplication-shape audits.

Scale shapes (the edge set is candidate pairs only — corpus-scale
independent; these shapes keep it that way):

- every operator materializes the pair generator EXACTLY ONCE behind
  a ``barrier`` before fanning out into nodes / degrees /
  iterations. Branching a merely-persisted frame re-runs the generator
  per branch inside the first job — observed as a 5x cold-start
  multiplier on q106 in round 3 (same lesson as
  ``dedup.dedup_components``, operators/dedup.py:283-291);
- PageRank iterates one hash join (edges x ranks on src) + one
  dst-keyed aggregation per round; degrees are node-sized and
  persisted; the node count is a bounded driver scalar (the q100
  probe class), so no per-round distinct re-aggregation;
- convergence mode tracks the L1 delta between successive rank
  vectors — one scalar aggregate per round — and truncates lineage
  per round with a ``barrier`` (the standard Spark
  iterative-graph pattern);
- the triangle census orients edges LOW-degree -> HIGH-degree (ties
  by id) before the two-join wedge closure. Orientation bounds every
  node's out-degree by O(sqrt(m)), so the wedge join fan-out on hub
  nodes is bounded — the 100 TB-safe form of the edge-iterator
  (id-orientation, round 3's shape, lets a low-id hub fan out by its
  full degree).

No reference counterpart (reference ``whalefinder/cleaner.py`` has no
graph stage); net-new scale surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whale_sightings_spark.session import barrier

#: damping for the fixed-round registered query (q106) — the classic
#: PageRank value.
DAMPING = 0.85
#: damping for the convergence-mode query (q112): smaller d converges
#: geometrically faster (delta ~ d^k), keeping the round count — and
#: the unrolled oracle — bounded. The operator accepts any d.
DAMPING_FAST = 0.5
#: L1 convergence tolerance for :func:`pagerank_converged`.
PR_TOL = 1e-10
#: unrolled oracle round count for q112: 0.5^40 ~ 9e-13 < PR_TOL, so
#: the fixed-round SQL and the converged Spark ranks agree far below
#: the output rounding (see q112's header for the error budget).
PR_ORACLE_ROUNDS = 40
PR_MAX_ROUNDS = 60


def symmetric_edges(pairs: DataFrame) -> DataFrame:
    """Both directions of the undirected pair set as ``(src, dst)``,
    src-partitioned behind a ``barrier`` so the pair generator's
    lineage runs once, before any branching."""
    directed = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return barrier(edges.repartition("src"))


def _pagerank_setup(pairs: DataFrame):
    """Shared PageRank scaffolding: barriered degree-annotated
    edges, node count scalar, uniform initial ranks. Every node of the
    symmetric edge set has degree >= 1 by construction (both endpoints
    of every pair appear as src), so no dangling-mass redistribution
    term is needed — asserted in tests/test_graphs.py.

    Round 12: the source degree is folded INTO the barriered edge
    table once (src, dst, d) instead of re-joined every round — the
    per-round plan drops from two joins to one. The aggregation still
    computes ``sum(pr / d)`` with the same division, so the float
    stream is bit-identical to the two-join form and every unrolled
    oracle is unchanged."""
    edges = symmetric_edges(pairs)
    deg = edges.groupBy(F.col("src").alias("dv")).agg(
        F.count("*").alias("d")
    )
    wedges = (
        edges.join(deg, edges.src == deg.dv)
        .select("src", "dst", "d")
        .repartition("src")
        .transform(barrier)
    )
    # bounded driver scalar (node count)
    nodes = wedges.select(F.col("src").alias("v")).distinct()
    n = nodes.count()
    pr = nodes.select("v", F.lit(1.0 / n).alias("pr"))
    return wedges, n, pr


def _pagerank_round(wedges, n: int, pr, damp: float):
    return (
        wedges.join(pr, wedges.src == pr.v)
        .groupBy("dst")
        .agg(
            (
                F.lit((1 - damp) / n) + damp * F.sum(F.col("pr") / F.col("d"))
            ).alias("pr")
        )
        .select(F.col("dst").alias("v"), "pr")
    )


def pagerank_fixed(
    pairs: DataFrame, iters: int, damp: float = DAMPING
) -> DataFrame:
    """Fixed-round PageRank over the undirected pair graph. Returns
    (v, pr). The static round count keeps the plan oracle-expressible
    as chained SQL CTEs (q106)."""
    wedges, n, pr = _pagerank_setup(pairs)
    for _ in range(iters):
        pr = _pagerank_round(wedges, n, pr, damp)
    return pr


def pagerank_converged(
    pairs: DataFrame,
    damp: float = DAMPING_FAST,
    tol: float = PR_TOL,
    max_rounds: int = PR_MAX_ROUNDS,
    check_every: int = 8,
) -> DataFrame:
    """PageRank run to an L1 fixpoint: iterate until
    ``sum(|pr_k - pr_{k-1}|) < tol`` (one scalar aggregate — the q100
    driver-probe class, never a row collect). Power iteration contracts
    the L1 error by `damp` per round, so the loop runs
    ~log(tol)/log(damp) rounds; ``max_rounds`` is the runaway backstop.

    Rounds execute in blocks of ``check_every``: one job runs the block
    of joins+aggs, then ONE ``barrier`` truncates lineage and
    ONE scalar delta probe tests convergence. Per-round driver actions
    are what dominate an iterative loop on small per-round state
    (scheduler latency, not compute), so block-checking cuts wall time
    ~check_every-fold; the only cost is up to check_every-1 extra
    rounds past convergence — which only push the ranks CLOSER to the
    fixpoint (and to the unrolled oracle). Returns (v, pr)."""
    wedges, n, pr = _pagerank_setup(pairs)
    pr = barrier(pr)
    rounds = 0
    while rounds < max_rounds:
        new = pr
        for _ in range(min(check_every, max_rounds - rounds)):
            new = _pagerank_round(wedges, n, new, damp)
            rounds += 1
        new = barrier(new)
        delta = (
            new.join(pr.withColumnRenamed("pr", "po"), "v")
            .agg(F.sum(F.abs(F.col("pr") - F.col("po"))))
            .collect()[0][0]
        )
        pr = new
        if delta is not None and delta < tol:
            break
    return pr


def orient_by_degree(pairs: DataFrame) -> DataFrame:
    """Orient each undirected pair LOW-degree -> HIGH-degree endpoint
    (ties by id): returns (a, b) with deg(a) <= deg(b). The resulting
    DAG bounds every node's out-degree by O(sqrt(m)) — the orientation
    that makes wedge-join triangle counting robust to hub nodes."""
    deg = (
        pairs.select(F.col("doc_a").alias("v"))
        .unionByName(pairs.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    j = (
        pairs.join(
            deg.select(F.col("v").alias("doc_a"), F.col("d").alias("da")),
            "doc_a",
        ).join(
            deg.select(F.col("v").alias("doc_b"), F.col("d").alias("db")),
            "doc_b",
        )
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    return j.select(
        F.when(fwd, F.col("doc_a")).otherwise(F.col("doc_b")).alias("a"),
        F.when(fwd, F.col("doc_b")).otherwise(F.col("doc_a")).alias("b"),
    )


def triangle_census(pairs: DataFrame) -> DataFrame:
    """One-row (n_nodes, n_edges, n_triangles) census of the undirected
    pair graph via the degree-oriented two-join edge iterator: any
    acyclic orientation gives each triangle exactly one directed path
    a->b->c closed by a->c, so the wedge join + closure join count each
    triangle once. The count is orientation-invariant — the oracle can
    (and does) use id-orientation."""
    e = barrier(orient_by_degree(pairs))
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("wa"),
            F.col("e1.b").alias("wb"),
            F.col("e2.b").alias("wc"),
        )
    )
    tri = wedges.join(
        e.alias("e3"),
        (F.col("wa") == F.col("e3.a")) & (F.col("wc") == F.col("e3.b")),
    )
    n_nodes = (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .agg(F.count_distinct("v").alias("n_nodes"))
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return n_nodes.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(n_tri))


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------

KCORE_K = 2
KCORE_ROUNDS = 4


def kcore_peel(
    pairs: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Fixed-round k-core peeling over the undirected pair graph:
    each round removes every node whose degree among STILL-ALIVE
    nodes is < k. Returns the per-round summary (round, n_removed,
    n_alive) with a round-0 baseline row — the density profile of the
    duplication graph (a deep 2-core = tangled template families that
    min-id dedup handles badly; leaves peel off in round 1).

    Scale shape: the edge set materializes ONCE (symmetric_edges'
    barrier — the q106 lesson) and never grows; each
    round is two alive-set semi-joins + one src-keyed degree agg, all
    hash-partitioned on node id; the alive set only shrinks. Round
    count is FIXED so the plan is static and the oracle unrolls (the
    q112 convention); per-round sizes are scalar collects (the
    convergence-probe allowance).
    """
    edges = symmetric_edges(pairs)
    alive = edges.select(F.col("src").alias("v")).distinct().transform(barrier)
    counts = [alive.count()]
    for _r in range(1, rounds + 1):
        av_src = alive.select(F.col("v").alias("src"))
        av_dst = alive.select(F.col("v").alias("dst"))
        deg = (
            edges.join(av_src, "src")
            .join(av_dst, "dst")
            .groupBy("src")
            .agg(F.count("*").alias("d"))
        )
        alive = (
            deg.filter(F.col("d") >= k)
            .select(F.col("src").alias("v"))
            .transform(barrier)
        )
        counts.append(alive.count())
    rows = [
        (r, int(counts[r - 1] - counts[r]) if r else 0, int(counts[r]))
        for r in range(0, rounds + 1)
    ]
    return pairs.sparkSession.createDataFrame(
        rows, "round int, n_removed bigint, n_alive bigint"
    )


def kcore_sql(pairs_sql: str, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """DuckDB twin: identical unrolled peel rounds over the same pair
    CTE chain (the _pagerank_sql head-splicing convention)."""
    body = pairs_sql.strip()
    assert body.upper().startswith("WITH")
    head, final = body[4:].rsplit("SELECT", 1)
    out = f"""
    WITH {head}, pairs AS (SELECT {final}),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    a0 AS (SELECT DISTINCT src AS v FROM edges)
    """
    for r in range(1, rounds + 1):
        out += f"""
    , a{r} AS (
        SELECT e.src AS v
        FROM edges e
        JOIN a{r-1} x ON x.v = e.src
        JOIN a{r-1} y ON y.v = e.dst
        GROUP BY e.src
        HAVING count(*) >= {k}
    )"""
    selects = [
        "SELECT 0 AS round, CAST(0 AS BIGINT) AS n_removed,"
        " (SELECT count(*) FROM a0) AS n_alive"
    ]
    for r in range(1, rounds + 1):
        selects.append(
            f"SELECT {r} AS round,"
            f" (SELECT count(*) FROM a{r-1}) - (SELECT count(*) FROM a{r})"
            f" AS n_removed,"
            f" (SELECT count(*) FROM a{r}) AS n_alive"
        )
    return out + "\n    " + "\n    UNION ALL\n    ".join(selects)
