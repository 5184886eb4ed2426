"""Iterative graph analytics over edge DataFrames.

[extension] PageRank as the representative iterative-numeric operator
(connected components — the iterative *label* operator — lives in
operators/clusters.py). Pipelines use PageRank-style scores to weight
web documents by link authority before sampling a pre-training mix
(the Common Crawl curation recipe).

Spark-first shape (Pregel-by-DataFrames, same discipline as the
fixpoint path of clusters.py:connected_components):

- edges ⋈ out-degree is computed once, persisted, and reused by every
  iteration — the only per-iteration work is one equi-join
  (edge source → current rank) and one sum-aggregate keyed on the
  destination, i.e. two hash-partitioned shuffles on node id;
- the node count reaches the plan as a one-row broadcast (no
  ``collect``), so teleport mass ``(1-d)/N`` is a column expression;
- a fixed iteration count keeps the operator deterministic and
  oracle-expressible (each power step unrolls to ANSI SQL); dangling
  nodes (no out-edges) leak their mass — the textbook uncorrected
  power iteration — so callers that need a stochastic matrix
  symmetrize their edges or add self-loops first, which is also what
  keeps the oracle exactly equal.

At 100 TB: ranks and edges shuffle on the same key every iteration, so
pre-partitioning edges by ``src`` (bucketed write) makes the join
shuffle-free and only the dst-sum moves data; skewed in-degree (the
whole point of authority scoring) is an aggregation hot key, which AQE
splits, and the final ranks are ~bytes per node — orders of magnitude
smaller than the edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import adopt


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    Returns ``(node, n_triangles)`` for every node belonging to at
    least one triangle. Input edges may be directed/duplicated; they
    are canonicalized to distinct ``u < v`` pairs first.

    Spark-first shape — the degree-ordered orientation algorithm
    (Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11): orient every edge from its lower-rank
    endpoint to its higher-rank endpoint where rank = (degree, id).
    The oriented graph is a DAG along ranks, so each triangle {x,y,z}
    with rank x<y<z materializes exactly once as the length-2 path
    x→y→z closed by the edge x→z: counting is one self-join on the
    path's middle node plus one closing equi-join — and the join
    fan-out per middle node is in-degree × *oriented* out-degree,
    where the orientation bounds out-degree by O(√m) regardless of
    raw degree skew. A
    mega-hub (raw degree 10⁶) contributes wedges only through its
    low-degree neighbors — this is what makes the plan survive
    power-law graphs at 100 TB, where the naive u<v self-join dies on
    the hub's C(deg,2) wedge explosion. The closing join keys on the
    (lo,hi) edge pair — equi-join, never a cross product.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    e = (
        edges.select(u.alias("u"), v.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg__"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("__deg__").alias("__du__"))
    dv = deg.select(F.col("node").alias("v"), F.col("__deg__").alias("__dv__"))
    # Orient low-rank → high-rank; rank = (degree, id) is a total order.
    lower_first = (F.col("__du__") < F.col("__dv__")) | (
        (F.col("__du__") == F.col("__dv__")) & (F.col("u") < F.col("v"))
    )
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
        .persist()
    )
    w1 = oe.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w2 = oe.select(F.col("a").alias("y"), F.col("b").alias("z"))
    closing = oe.select(F.col("a").alias("cx"), F.col("b").alias("cz"))
    tri = (
        w1.join(w2, "y")
        .join(
            closing,
            (F.col("x") == F.col("cx")) & (F.col("z") == F.col("cz")),
        )
        .select(F.array("x", "y", "z").alias("__nodes__"))
    )
    out = (
        tri.select(F.explode("__nodes__").alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return adopt(out, e, oe)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 3,
    round_to: int = 7,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-``iters`` power-iteration PageRank over a directed edge
    list. Returns ``(node, rank)`` for every node appearing as a
    source or destination, with ``rank`` rounded to ``round_to``
    decimals (shuffle-order float sums are only reproducible up to
    ulps; rounding is the cross-engine precision contract, as in
    stats_lineitem).

    The caller owns the returned frame's adopted caches
    (caching.release) — the edge⋈degree intermediate is persisted for
    reuse across iterations."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # The edge list feeds four plan branches (both node-set arms, the
    # degree aggregate, and the per-iteration join); without its own
    # persist the upstream edge derivation would re-execute for each —
    # caching edges is the standard first move of any iterative graph
    # algorithm (GraphX does the same).
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__outdeg__"))
    e_deg = e.join(deg, "src").persist()
    if symmetric:
        # Symmetric edge lists (every node has out-edges): the degree
        # aggregate already enumerates every node, so the node set is
        # a projection of ``deg`` — the union+distinct shuffle over
        # 2|E| rows disappears entirely. Caller asserts symmetry.
        nodes0 = deg.select(F.col("src").alias("node")).persist()
    else:
        # Persist the PLAIN node set, then derive both the broadcast
        # count and the (node, n) frame from the cached copy —
        # building the count from the un-persisted distinct would
        # execute that distinct twice (broadcast job + cache fill).
        nodes0 = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
    n_row = nodes0.agg(F.count(F.lit(1)).alias("__n__"))
    nodes = nodes0.crossJoin(F.broadcast(n_row))

    d = float(damping)
    ranks = nodes.select(
        "node", (F.lit(1.0) / F.col("__n__")).alias("rank")
    )
    for i in range(iters):
        contrib = (
            e_deg.join(ranks, e_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("__outdeg__")).alias("__c__"),
            )
            .groupBy("node")
            .agg(F.sum("__c__").alias("__in__"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - d) / F.col("__n__")
                    + F.lit(d) * F.coalesce(F.col("__in__"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # Bound lineage for arbitrary iters: each round's ranks nests
        # the previous round's plan, so by iteration ~30 the analyzer
        # cost alone dominates. Every 8th round, eager localCheckpoint
        # truncates the logical plan (the clusters.py lesson: persist
        # bounds recomputation, not plan depth) — plan nesting stays
        # ≤8 deep at any iters, and the default iters=3 pays zero
        # extra actions.
        if i < iters - 1 and (i + 1) % 8 == 0:
            ranks = ranks.localCheckpoint(eager=True)
    out = ranks.select("node", F.round("rank", round_to).alias("rank"))
    return adopt(out, e, nodes0, e_deg)

def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
    node: str = "node",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Minimum-hop BFS distance from a source node set, bounded depth.

    Returns ``(node, hops)`` for every node reachable within
    ``max_hops`` edges (sources themselves at hop 0). The classic
    frontier expansion as DataFrames: each level is ONE equi-join
    (frontier → neighbors, shuffle keyed on node id) plus ONE
    left-anti join against the visited set — min-distance semantics
    fall out because a node joins the visited set the first level it
    appears and the anti-join drops later sightings. Every level's
    frontier is persisted and feeds exactly two consumers (expansion
    and the union), so nothing recomputes; lineage depth is bounded
    by ``max_hops``.

    At 100 TB: the frontier is the working set — it starts tiny and
    peaks at the graph's neighborhood growth rate, while the full
    edge set is only ever probed through the equi-join (bucketing
    edges by ``src`` makes that probe shuffle-free). Visited-set
    membership is the one structure that grows monotonically; it
    stays (node, hop) pairs — bytes per reached node.
    """
    frontier = (
        sources.select(F.col(node).cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("hops"))
        .persist()
    )
    visited = frontier
    caches = [frontier]
    # persist the normalized edge frame: every level probes it, and
    # without this the (possibly expensive) edge-derivation lineage
    # re-executes once per hop
    e = edges.select(
        F.col(src).cast("long").alias("__s__"),
        F.col(dst).cast("long").alias("__d__"),
    ).persist()
    caches.append(e)
    for h in range(1, max_hops + 1):
        nbrs = (
            frontier.join(e, frontier["node"] == e["__s__"])
            .select(F.col("__d__").alias("node"))
            .distinct()
        )
        frontier = (
            nbrs.join(visited, "node", "left_anti")
            .select("node", F.lit(h).alias("hops"))
            .persist()
        )
        caches.append(frontier)
        visited = visited.union(frontier)
    return adopt(visited, *caches)
