"""Iterative graph algorithms on edge DataFrames.

The LLM-pipeline use case: near-duplicate detection produces PAIRS
(dedup.py, similarity.py), but curation needs CLUSTERS — if A~B and
B~C, all three are one duplicate group even when A~C was never scored.
``connected_components`` collapses the pair graph into components so a
pipeline can keep exactly one representative per group.

Algorithm: iterative min-label propagation (the standard Pregel-style
formulation, same shape as GraphFrames/GraphX CC) with POINTER
DOUBLING: every vertex starts labeled with itself; each round every
vertex takes the minimum of its label, its neighbors' labels, and its
label's label (path halving — ``label(v)`` is a vertex reachable from
``v``, so ``label(label(v))`` is too, and chasing it collapses chains
exponentially).  Converged when no label changes: O(log diameter)
rounds, so even a pathological million-hop duplicate chain fits the
default ``max_iter=25``.  Each round is two joins + one aggregate, all
JVM-side; the label frame is localCheckpointed per round to keep the
lineage flat (an iterative plan would otherwise grow by one join per
round and overwhelm the optimizer).

The driver-side loop-with-convergence-check mirrors the reference's
multi-job orchestration (`SlidingAggregation.java:433-536` chains jobs
and reads a counter between them) — O(1) driver data per round.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Per-round frames (labels, ranks, frontiers, survivor sets) whose EXACT
#: row count — already known from the loop's convergence bookkeeping — is
#: at or below this bound get an explicit broadcast hint, so the
#: checkpointed edge list is probed in place instead of being re-shuffled
#: every round (optimization guide §3.1: size estimates after iterative
#: checkpoints are unusable, so the known count decides; §2.4: the edge
#: exchange is the per-round term that grows with the graph).  ~4M rows of
#: (long, long) is ~100-200 MB built — inside the guide's "a few hundred
#: MB is fine" band.  Above the bound nothing changes: the planner's
#: shuffle strategy stands, which is the only correct shape at 100 TB
#: vertex counts.  Env-overridable for smaller executors.
_BCAST_MAX_ROWS = int(os.environ.get("UWMS_GRAPH_BROADCAST_MAX_ROWS", "4000000"))


def _bcast_if_small(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast hint iff the exact known count fits `_BCAST_MAX_ROWS`."""
    return F.broadcast(df) if 0 <= n_rows <= _BCAST_MAX_ROWS else df


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns (v, label): every vertex that appears in an edge, labeled
    with the smallest vertex id reachable from it.  Raises if not
    converged within ``max_iter`` rounds (an O(log diameter) bound
    thanks to pointer doubling).

    Plan shape: one STAR CONTRACTION pass first — every vertex maps to
    ``m(v) = min(v, min neighbor)``, and the label loop runs on the
    contracted quotient graph ``(m(a), m(b))`` instead of the input.
    m(v) is in v's component and ≤ v, so contraction preserves the
    component partition exactly, and the component minimum M is its own
    representative (``m(M) = M``), so the quotient's min-label IS the
    original component's min; the final pass assigns
    ``label(v) = quotient_label(m(v))``.  On the dense near-dup / grid
    graphs this engine feeds (avg degree 10-200), the quotient is
    orders of magnitude smaller than the input, so the O(log diameter)
    rounds iterate over a frame of hub representatives instead of
    re-walking the full edge list every round (optimization guide
    §1.2/§2.4 — the edge list now crosses the cluster twice, not once
    per round; measured 32 s → ~8 s on the sf1 DBSCAN core graph)."""
    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    both = both.localCheckpoint(eager=True)  # reused: m pass + quotient build

    m = (
        both.groupBy(F.col("a").alias("v"))
        .agg(F.min("b").alias("_mb"))
        .select("v", F.least(F.col("v"), F.col("_mb")).alias("m"))
    ).localCheckpoint(eager=True)  # reused: 2 quotient sides + final map-back
    # Exact vertex count (cheap: m is checkpointed).  Decides whether the
    # O(V) map frame is broadcast into the two quotient-build joins — the
    # alternative exchanges the FULL edge list twice (by a, then by b)
    # just to rename endpoints (guide §3.1/§2.4).
    n_verts = m.count()
    mb = _bcast_if_small(m, n_verts)

    q_edges = (
        both.join(
            mb.select(F.col("v").alias("a"), F.col("m").alias("_ma")), "a"
        )
        .join(mb.select(F.col("v").alias("b"), F.col("m").alias("_mb2")), "b")
        .select(F.col("_ma").alias("a"), F.col("_mb2").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    both = q_edges.unionByName(
        q_edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)  # quotient edges, reused every round

    labels = (
        both.select(F.col("a").alias("v")).distinct().withColumn("label", F.col("v"))
    ).localCheckpoint(eager=True)
    # The quotient vertex set is FIXED across rounds; one count funds the
    # per-round broadcast decision for every label-frame join below.
    n_q = labels.count()

    converged = False
    for _ in range(max_iter):
        # neighbor labels: for each edge a->b, b's current label reaches
        # a.  Broadcasting the O(V_q) label frame keeps the quotient edge
        # list un-shuffled round after round.
        nbr = (
            both.join(_bcast_if_small(labels.withColumnRenamed("v", "b"), n_q), "b")
            .groupBy(F.col("a").alias("v"))
            .agg(F.min("label").alias("nbr_min"))
        )
        # pointer doubling: label(label(v)) is reachable from v
        ll = labels.select(
            F.col("v").alias("label"), F.col("label").alias("_ll")
        )
        best = F.least(
            F.col("label"),
            F.coalesce(F.col("nbr_min"), F.col("label")),
            F.coalesce(F.col("_ll"), F.col("label")),
        )
        updated = (
            labels.join(nbr, "v", "left")
            .join(_bcast_if_small(ll, n_q), "label", "left")
            .select(
                "v",
                best.alias("label"),
                (best < F.col("label")).alias("_chg"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.where(F.col("_chg")).count()
        labels = updated.drop("_chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # map the quotient labels back through the contraction: label(v) =
    # quotient_label(m(v)); a representative with no cross-star edge
    # never enters the quotient and labels its own star.
    return m.join(
        _bcast_if_small(labels.select(F.col("v").alias("m"), "label"), n_q),
        "m",
        "left",
    ).select("v", F.coalesce("label", F.col("m")).alias("label"))


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-vertex triangle participation counts (and thereby the global
    triangle count: sum/3).

    The MapReduce-era algorithm done declaratively (Suri &
    Vassilvitskii's degree-ordered wedge counting): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher;
    then each triangle forms EXACTLY ONE wedge at its lowest vertex,
    and — the scale property — the out-degree of every vertex in the
    oriented graph is O(sqrt(|E|)), so the wedge join cannot blow up on
    hub vertices the way a naive neighborhood self-join does.

    Plan: canonicalize+distinct (one shuffle), degree count (one
    shuffle, broadcast back), wedge self-join on the low vertex, then a
    semi join against the edge set to close each wedge.  Returns
    (v, n_triangles) for every vertex in at least one triangle.
    """
    a, b = F.col(src), F.col(dst)
    if assume_canonical:
        # caller guarantees a<b, distinct, and (typically) an existing
        # checkpoint — skip the redundant canonicalize+distinct pass
        und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    else:
        und = (
            edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        und = und.localCheckpoint(eager=True)  # reused by degrees + 2 joins
    deg = (
        und.select(F.col("a").alias("v")).unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ranked = und.join(da, "a").join(db, "b")
    # Orient low -> high by (degree, id); ties on degree break by id.
    lo_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lo_is_a, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_is_a, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    oriented = oriented.localCheckpoint(eager=True)  # reused 2x + od estimate

    # Size the wedge stages from the EXACT wedge count Σ od(lo)² (an
    # O(V)-row aggregate) instead of trusting Catalyst's join-output
    # size estimate: the wedge join's fan-out is quadratic per key, AQE
    # underestimates it and coalesces to a handful of giant partitions,
    # and the round-7 sf1 sweep OOMed exactly there (dense co-shipping
    # graph: ~2·10^10 wedges).  ~5M wedge rows per partition keeps each
    # task's sort spill-friendly; the clamp bounds task-scheduling
    # overhead on small graphs.
    est = (
        oriented.groupBy("lo")
        .agg(F.count(F.lit(1)).alias("od"))
        .agg(F.sum(F.col("od") * F.col("od")).alias("w"))
        .collect()[0]["w"]
    ) or 0
    spark = edges.sparkSession
    default_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parts = int(min(2048, max(default_p, est // 5_000_000 + 1)))

    o1 = oriented.select(F.col("lo"), F.col("hi").alias("x"))
    o2 = oriented.select(F.col("lo"), F.col("hi").alias("y"))
    wedges = (
        o1.repartition(parts, "lo")
        .join(o2.repartition(parts, "lo"), "lo")
        .where(F.col("x") < F.col("y"))
    )
    closing = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    # Closing join strategy, decided from the EXACT edge count (one
    # cheap count on the checkpointed frame, guide §3.1) by the same
    # `_bcast_if_small` gate as every other graph face: the edge set is
    # E rows of two longs, so well past the usual auto-broadcast
    # estimate it still builds a modest hash relation — probing it IN
    # the wedge-producing stage means the Σ od² wedge rows never cross
    # an exchange (the former repartition(x, y) + sort-merge semi was
    # the single biggest exchange in the triangle faces).  Above the
    # bound, the r7-OOM-safe est-sized wedge exchange stands unchanged.
    probe = _bcast_if_small(closing, und.count())
    if probe is closing:  # not broadcast: shuffle the wedges to the edges
        wedges = wedges.repartition(parts, "x", "y")
    tris = wedges.join(probe, ["x", "y"], "left_semi")
    per_vertex = (
        tris.select(F.col("lo").alias("v"))
        .unionAll(tris.select(F.col("x").alias("v")))
        .unionAll(tris.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return per_vertex


def pagerank(edges: DataFrame, *, iterations: int = 5, damping_milli: int = 850,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """PageRank over a directed graph in exact integer micro-units.

    Update rule, all integer (deterministic on any engine — no float
    sums whose order could differ):

        r'(v) = ((1000 - d) * (10^6 DIV N)
                 + d * SUM over in-neighbors u of (r(u) DIV outdeg(u)))
                DIV 1000

    with d = ``damping_milli``.  Truncation drops sub-micro mass and
    dangling vertices leak theirs — both standard simplifications,
    identical in the DuckDB oracle (generated by unrolling the same
    formula per iteration), so the driver value-hash checks the whole
    iteration.

    Plan: out-degrees computed once and joined into the edge list,
    which is localCheckpoint-ed and reused every round; each iteration
    is one join + one aggregate (shuffle on dst), the classic scalable
    PageRank shape.  Returns (v, rank_micro) for every vertex."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    verts = (
        e.select("u").unionAll(e.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("v"))
    )
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "u").localCheckpoint(eager=True)
    verts = verts.localCheckpoint(eager=True)
    n = verts.count()  # scalar: N is needed in the literal base term
    if n == 0:
        # No edges → no vertices: empty result, not a DIV-by-zero in
        # the base-term literal.
        return verts.withColumn("rank_micro", F.lit(0).cast("long"))
    step = (
        f"CAST(({1000 - damping_milli} * {1000000 // n}"
        f" + {damping_milli} * COALESCE(in_sum, 0)) DIV 1000 AS BIGINT)"
    )
    ranks = verts.withColumn("rank_micro", F.lit(1000000 // n).cast("long"))
    for _ in range(iterations):
        # Broadcast the O(V) rank frame (exact count n known) so the
        # checkpointed degree-annotated edge list never re-shuffles per
        # round; the contribution sum partial-aggregates map-side and
        # only C~V rows cross the wire (guide §2.3/§3.1).  Integer sums
        # are order-independent, so the values are unchanged.
        contrib = (
            e_deg.join(_bcast_if_small(ranks.withColumnRenamed("v", "u"), n), "u")
            .select("v", F.expr("rank_micro DIV outdeg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            verts.join(contrib, "v", "left")
            .select("v", F.expr(step).alias("rank_micro"))
            .localCheckpoint(eager=True)
        )
    return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
) -> DataFrame:
    """Minimum hop distance from a seed set, breadth-first.

    Returns (v, hop) for every vertex within ``max_hops`` undirected
    hops of any seed (seeds themselves at hop 0) — the blast-radius /
    influence-frontier query (fraud rings around flagged accounts,
    affected-asset sets around an incident).

    Level-synchronous BFS: each round expands the CURRENT frontier by
    one join against the checkpointed edge list, dedups, and anti-joins
    the already-settled set — so every vertex is settled exactly once,
    at its true minimum hop, and the per-round shuffle is bounded by
    the frontier's edge neighborhood, never the whole graph re-walked.
    O(1) driver data per round (the emptiness check), the
    `connected_components` orchestration discipline.
    """
    both = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select("v").distinct().withColumn("hop", F.lit(0).cast("long"))
    ).localCheckpoint(eager=True)
    # The loop's own bookkeeping (seed count + per-round nxt.count())
    # yields exact frontier/settled sizes for free — broadcast the small
    # side of both per-round joins so the checkpointed edge list is
    # probed in place, never re-shuffled (guide §3.1): the expand join
    # builds a hash table of the FRONTIER, the settled-set anti-join one
    # of DIST.  Set semantics (distinct/anti) are join-strategy-invariant.
    n_dist = dist.count()
    frontier = dist.select("v")
    n_frontier = n_dist
    for h in range(1, max_hops + 1):
        nxt = (
            both.join(
                _bcast_if_small(frontier.withColumnRenamed("v", "a"), n_frontier),
                "a",
            )
            .select(F.col("b").alias("v"))
            .distinct()
            .join(_bcast_if_small(dist.select("v"), n_dist), "v", "left_anti")
            .withColumn("hop", F.lit(h).cast("long"))
        ).localCheckpoint(eager=True)
        n_new = nxt.count()
        if n_new == 0:
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        n_dist += n_new
        frontier = nxt.select("v")
        n_frontier = n_new
    return dist


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iterations: int = 5,
    damping_milli: int = 850,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: teleport mass returns only to ``seeds``
    (a frame with column ``v``), so ranks measure influence RELATIVE
    to the seed set — the recommendation / fraud-propagation variant
    ("accounts most exposed to these flagged accounts") of the global
    `pagerank`.

    Same exact integer micro-unit rule, with the uniform base term
    replaced by a per-vertex seed term:

        r'(v) = ((1000 − d)·base(v) + d·Σ_u r(u) DIV outdeg(u)) DIV 1000
        base(v) = 10⁶ DIV |S|  if v ∈ S else 0,   r₀ = base

    fully deterministic, value-hash oracle-able by unrolling (the
    `pagerank` oracle technique).  Plan: identical to `pagerank` — the
    degree-annotated edge list and the base frame are checkpointed
    once; every iteration is one join + one dst-keyed aggregate."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    verts = (
        e.select("u").unionAll(e.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("v"))
    )
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "u").localCheckpoint(eager=True)
    s = seeds.select("v").distinct()
    ns = s.count()
    if ns == 0:
        return verts.withColumn("rank_micro", F.lit(0).cast("long"))
    base = (
        verts.join(s.withColumn("_is_seed", F.lit(1)), "v", "left")
        .select(
            "v",
            F.when(F.col("_is_seed").isNotNull(), F.lit(1000000 // ns))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bs"),
        )
        .localCheckpoint(eager=True)
    )
    step = (
        f"CAST(({1000 - damping_milli} * bs"
        f" + {damping_milli} * COALESCE(in_sum, 0)) DIV 1000 AS BIGINT)"
    )
    # Exact vertex count (cheap: base is checkpointed) funds the same
    # per-round broadcast decision as `pagerank`: the O(V) rank frame
    # builds the hash side, the checkpointed edge list never re-shuffles.
    n_verts = base.count()
    ranks = base.select("v", F.col("bs").alias("rank_micro"))
    for _ in range(iterations):
        contrib = (
            e_deg.join(
                _bcast_if_small(ranks.withColumnRenamed("v", "u"), n_verts), "u"
            )
            .select("v", F.expr("rank_micro DIV outdeg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            base.join(contrib, "v", "left")
            .select("v", F.expr(step).alias("rank_micro"))
            .localCheckpoint(eager=True)
        )
    return ranks


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 12,
) -> DataFrame:
    """The k-core of the undirected graph: the maximal induced
    subgraph in which every vertex keeps degree ≥ k — the standard
    "dense cohesive cluster" extractor (fraud rings, community
    nuclei), computed by iterative peeling: drop every vertex whose
    degree within the CURRENT survivor set is < k, recompute, repeat
    to fixpoint.

    Returns (v, core_deg) for surviving vertices, core_deg = degree
    inside the k-core.  Raises if not converged in ``max_iter`` peels
    (each peel strictly shrinks the vertex set, so convergence is
    certain; the bound guards runaway SQL-twin drift).

    Plan per round: induced-degree = the checkpointed edge list
    semi-joined to the survivor set on BOTH endpoints, one aggregate,
    one filter — all keyed shuffles; O(1) driver data per round (the
    convergence count), the `connected_components` discipline."""
    both = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = both.select(F.col("a").alias("v")).distinct().localCheckpoint(eager=True)
    # Survivor-set counts are the loop's own convergence bookkeeping;
    # broadcasting the O(V) survivor frame into both semi-join sides
    # keeps the checkpointed edge list un-shuffled per peel (guide §3.1).
    n_cur = cur.count()
    for _ in range(max_iter):
        deg = (
            both.join(_bcast_if_small(cur.withColumnRenamed("v", "a"), n_cur), "a")
            .join(_bcast_if_small(cur.withColumnRenamed("v", "b"), n_cur), "b")
            .groupBy(F.col("a").alias("v"))
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        nxt = deg.where(F.col("core_deg") >= k).localCheckpoint(eager=True)
        n_prev, n_nxt = n_cur, nxt.count()
        cur = nxt.select("v").localCheckpoint(eager=True)
        n_cur = n_nxt
        if n_nxt == n_prev:
            return nxt.select("v", F.col("core_deg").cast("long").alias("core_deg"))
        if n_nxt == 0:
            return nxt.select("v", F.col("core_deg").cast("long").alias("core_deg"))
    raise RuntimeError(f"k_core did not converge within {max_iter} peels")


def _rescale_col(df: DataFrame, col: str) -> DataFrame:
    """Trunc-divide ``col`` by 10^(digits(max|col|) − 7) — the exact
    power-of-ten rescale of the power-iteration family (`operators/
    pca.py`): keeps iterates in int64 without a float normalization,
    identically on any engine (the scale factor is built from a digit
    count, never float pow)."""
    from .pca import rescale_scale_sql

    m = df.agg(F.max(F.abs(F.col(col))).alias("_m"))
    s = F.expr(rescale_scale_sql("_m"))
    return (
        df.crossJoin(F.broadcast(m.select(s.alias("_s"))))
        .withColumn(col, F.expr(f"{col} DIV _s"))
        .drop("_s")
    )


def hits(
    edges: DataFrame,
    *,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """HITS hubs & authorities in exact integer arithmetic.

    Classic HITS normalizes by an L2 norm every half-step — a float
    reduction no two engines order alike.  Here each half-step is an
    exact int64 weighted sum (``a = Σ w·h`` over in-edges, ``h = Σ w·a``
    over out-edges) followed by the power-of-ten trunc rescale, so the
    mutual-reinforcement fixpoint sequence is value-hash reproducible —
    the same contract as `pagerank` (integer micro-units) and
    `operators/pca.py` (exact power iteration).

    Returns (side, node, score): side ∈ {'hub','authority'}.  Scale:
    each half-step is one edge-keyed join + one node-keyed aggregate —
    the pagerank topology; the rescale adds a 1-row max broadcast."""
    if iterations < 1:
        raise ValueError("hits needs iterations >= 1 (no authority half-step ran)")
    # LINEAGE DISCIPLINE (the pagerank localCheckpoint pattern): each
    # rescale embeds a broadcast max over the score subtree, so an
    # uncheckpointed loop DOUBLES the plan per half-step (2^(2·iters)
    # evaluations of the edge build).  Checkpoint the edge list once and
    # every score frame after its rescale to keep the plan linear.
    edges = edges.localCheckpoint(eager=True)
    h = (
        edges.select(F.col(src).alias("node"))
        .distinct()
        .withColumn("score", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )
    # Score frames are O(nodes); with exact counts (cheap on the
    # checkpointed frames) the edge list builds no shuffle at all in any
    # half-step — each join probes a broadcast score table and the
    # weighted sum partial-aggregates map-side (guide §2.3/§3.1).  The
    # un-broadcast alternative re-exchanged the full edge list FOUR
    # times per 2-iteration run (the edge checkpoint preserves no useful
    # partitioning: src and dst keys alternate).
    n_h = h.count()
    a = None
    n_a = -1
    for _ in range(iterations):
        a = _rescale_col(
            edges.join(_bcast_if_small(h.withColumnRenamed("node", src), n_h), src)
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum(F.col(weight) * F.col("score")).cast("long").alias("score")),
            "score",
        ).localCheckpoint(eager=True)
        n_a = a.count()
        h = _rescale_col(
            edges.join(_bcast_if_small(a.withColumnRenamed("node", dst), n_a), dst)
            .groupBy(F.col(src).alias("node"))
            .agg(F.sum(F.col(weight) * F.col("score")).cast("long").alias("score")),
            "score",
        ).localCheckpoint(eager=True)
        n_h = h.count()
    return h.select(F.lit("hub").alias("side"), "node", "score").unionByName(
        a.select(F.lit("authority").alias("side"), "node", "score")
    )


def weighted_shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_hops: int = 4,
) -> DataFrame:
    """Cheapest-path distances from a seed set using at most
    ``max_hops`` edges — bounded-hop Bellman-Ford, the weighted
    generalization of ``bfs_hops`` (hop counts answer "how far"; edge
    costs answer "how cheaply", e.g. relationship-strength routing,
    fraud-ring cost exposure, network latency radius).

    Undirected: every edge relaxes both ways.  FRONTIER Bellman-Ford
    (VERDICT r10 item 1): round k relaxes only out of vertices whose
    tentative distance IMPROVED in round k-1 — a vertex whose d is
    unchanged would re-offer exactly the candidates it offered when it
    last improved, all already folded into the running minimum.
    Invariant (induction on rounds, identical to full Bellman-Ford):
    after round k every value in ``dist`` is the cost of some ≤k-edge
    walk, and dist(v) ≤ the cheapest ≤k-edge walk to v — a cheapest
    ≤k-edge walk ends (≤k-1 walk to u) + one edge, u reached that value
    in some round j ≤ k-1, entered the frontier, and relaxed u→v in
    round j+1 ≤ k.  So the frame after ``max_hops`` rounds is
    row-identical to the full-relaxation version; the per-round join
    input shrinks from the whole tentative frame to the changed set.
    The old/new winner per vertex resolves by a struct-min over
    (d, is_new), old winning ties, so the frontier is exactly the
    strictly-improved set.  Each round is one frontier×edges join + one
    aggregate, localCheckpointed; O(1) driver data (the frontier count,
    which also funds the broadcast decision and an early exit — an
    empty frontier cannot change any later round).  int64 costs —
    exact, no float accumulation.
    """
    both = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), F.col(weight).alias("w"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"), F.col(weight).alias("w"))
        )
        .localCheckpoint(eager=True)
    )
    dist = (
        seeds.select("v").distinct().withColumn("d", F.lit(0).cast("long"))
    ).localCheckpoint(eager=True)
    frontier = dist
    n_frontier = dist.count()
    for _ in range(max_hops):
        if n_frontier == 0:
            break
        relaxed = (
            both.join(
                _bcast_if_small(frontier.withColumnRenamed("v", "a"), n_frontier),
                "a",
            )
            .select(F.col("b").alias("v"), (F.col("d") + F.col("w")).cast("long").alias("d"))
            .withColumn("_new", F.lit(1))
        )
        agg = (
            dist.withColumn("_new", F.lit(0))
            .unionByName(relaxed)
            .groupBy("v")
            .agg(F.min(F.struct("d", "_new")).alias("_s"))
        ).localCheckpoint(eager=True)
        dist = agg.select("v", F.col("_s.d").alias("d"))
        frontier = agg.where(F.col("_s._new") == 1).select(
            "v", F.col("_s.d").alias("d")
        )
        n_frontier = frontier.count()
    return dist


def pagerank_weighted(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping_milli: int = 850,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """PageRank with EDGE WEIGHTS in exact integer micro-units — the
    `pagerank` update with each out-edge carrying its share of the
    vertex's rank proportional to weight:

        r'(v) = ((1000 − d)·(10⁶ DIV N)
                 + d · Σ over in-edges (u,v) of (r(u)·w(u,v) DIV wout(u)))
                DIV 1000

    (wout = Σ of u's out-edge weights).  Same truncation/dangling
    simplifications, same per-round join+aggregate plan and
    checkpointed weighted edge list; the r(u)·w product runs in
    DECIMAL(38,0) — rank_micro ≤ 10⁶·N and corpus-scale weights would
    wrap int64 silently (the round-7 overflow lesson).  Returns
    (v, rank_micro)."""
    dec = "decimal(38,0)"
    e = (
        edges.groupBy(F.col(src).alias("u"), F.col(dst).alias("v"))
        .agg(F.sum(F.col(weight).cast("long")).alias("w"))
    )
    verts = (
        e.select("u").unionAll(e.select(F.col("v").alias("u")))
        .distinct()
        .select(F.col("u").alias("v"))
    )
    wout = e.groupBy("u").agg(F.sum("w").alias("wout"))
    ed = e.join(wout, "u").localCheckpoint(eager=True)
    verts = verts.localCheckpoint(eager=True)
    n = verts.count()
    if n == 0:  # empty graph: empty result, not a ZeroDivisionError
        return verts.withColumn("rank_micro", F.lit(0).cast("long"))
    base = 1_000_000 // n
    d = int(damping_milli)
    r = verts.withColumn("rank_micro", F.lit(base).cast("long"))
    for _ in range(iterations):
        # Same deliberate join strategy as `pagerank`: broadcast the
        # O(V) rank frame (exact n known) so the checkpointed weighted
        # edge list is probed in place every round instead of being
        # re-shuffled; the DECIMAL contribution sum partial-aggregates
        # map-side (guide §2.3/§3.1).  Exact integer arithmetic is
        # order-independent — values unchanged.
        contrib = (
            ed.join(_bcast_if_small(r.withColumnRenamed("v", "u"), n), "u")
            .groupBy("v")
            .agg(
                F.sum(
                    F.expr(f"CAST(rank_micro AS {dec}) * w DIV wout").cast("long")
                ).alias("s")
            )
        )
        r = (
            verts.join(contrib, "v", "left")
            .select(
                "v",
                F.expr(
                    f"CAST(({(1000 - d) * base}L + {d}L * COALESCE(s, 0L))"
                    " DIV 1000 AS BIGINT)"
                ).alias("rank_micro"),
            )
        ).localCheckpoint(eager=True)
    return r
