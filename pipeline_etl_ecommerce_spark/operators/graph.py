"""Iterative link analysis over pair tables — PageRank on the undirected
similarity graph the dedup family already produces (verified near-dup
pairs). Centrality picks the canonical representative of a duplicate
cluster by how CONNECTED a doc is, a step up from min-id or max-quality
when clusters are large and chainy.

Distributed shape per iteration (the standard Pregel-style PageRank):
one equi-join of the rank vector onto the edge list + one groupBy(dst)
with map-side partial aggregation — no driver-side state, no collect.
Degrees and ranks are node-sized tables co-partitioned with the edges by
the join key. For long chains, checkpoint between rounds; the catalog
runs a fixed small round count so plain lineage is fine.

Cross-engine determinism: floating-point PageRank rounds each rank per
iteration, and a rank landing on an exact decimal .5 boundary rounds
differently across engines (first attempt measured 2e-9 divergences).
So ranks here are FIXED-POINT integers in 1e-9 units: uniform start
``SCALE div n``, per-edge contribution ``r div deg``, damped update
``(3·SCALE) div (20·n) + (17·Σc) div 20`` (0.15 and 0.85 as exact
rationals). Every operation is integer floor-division and integer
summation — associative, order-independent, and bit-identical on any
engine. The per-round truncation bias (< 1e-9 per term) is irrelevant
for a centrality ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # fixed-point unit: 1e-9


def pagerank_undirected(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    *,
    iters: int = 3,
    id_out: str = "node_id",
) -> DataFrame:
    """PageRank (damping 0.85) over an undirected pair list (each pair
    becomes two directed edges). Returns ``(id_out, pagerank_e9)`` —
    the rank in integer 1e-9 units — for every node that appears in a
    pair, after ``iters`` damped power-iteration rounds from the uniform
    start. Isolated docs never enter the graph — handle them upstream
    (they keep themselves as canonical)."""
    if iters <= 0:
        raise ValueError("iters must be positive")
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    rev = pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    # pin the loop-invariant frames once (lazy localCheckpoint, same
    # lineage-linearization rationale as the per-round checkpoint below):
    # edges and deg are read in EVERY round, and without the pin each
    # round's join re-derives them from the pair list's upstream lineage
    edges = fwd.unionByName(rev).localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint(eager=False)
    n = deg.agg(F.count("*").alias("n"))
    rank = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"),
        F.expr(f"CAST({SCALE} AS BIGINT) div n").alias("r"),
    )
    for _ in range(iters):
        contribs = (
            edges.join(rank, edges.src == rank.node)
            .join(deg, "src")
            .select("dst", F.expr("r div deg").alias("c"))
        )
        rank = (
            contribs.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("sc"))
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                F.expr(f"CAST({3 * SCALE} AS BIGINT) div (20 * n) + (17 * sc) div 20").alias("r"),
            )
            # linearize the lineage: without this, round t re-executes
            # rounds 1..t-1 (measured 7.9s -> ~4s at sf0.1 for 3 rounds);
            # lazy local checkpoint, blocks freed by the ContextCleaner
            .localCheckpoint(eager=False)
        )
    return rank.select(F.col("node").alias(id_out), F.col("r").alias("pagerank_e9"))


def bfs_distances(
    edges: DataFrame,
    seed: DataFrame,
    *,
    max_depth: int,
) -> DataFrame:
    """Level-synchronous BFS over an undirected ``(src, dst)`` edge list:
    hop distances from the nodes in ``seed`` (a frame with one ``node``
    column whose rows are DISTINCT — duplicate seed rows would duplicate
    their dist-0 output rows), capped at ``max_depth``. Returns ``(node, dist)`` for
    every reached node, seeds included at 0. Multi-seed frames compute
    distance-from-nearest-seed (used by the disjoint-union property test
    to solve many graphs in one job).

    The Pregel shape shared with :func:`pagerank_undirected`: each level
    is one equi-join of the frontier onto the edges plus an anti-join
    against the settled set — no driver-side node state, O(diameter)
    rounds, lineage linearized per level with a lazy localCheckpoint (the
    settled set re-derives every earlier level otherwise). First-touch
    order IS min-distance order in level-synchronous BFS, so the result
    is exact and engine-replayable (the oracle's recursive CTE takes
    MIN(dist) over all bounded walks — same fixpoint)."""
    if max_depth < 0:
        raise ValueError("max_depth must be >= 0")
    # loop-invariant edge frame pinned once (the pagerank_undirected
    # rationale): every level joins it, and without the pin each level
    # re-derives it from the pair list's upstream lineage
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .localCheckpoint(eager=False)
    )
    dist = seed.select("node", F.lit(0).alias("dist"))
    frontier = dist.select("node")
    for d in range(1, max_depth + 1):
        nxt = (
            sym.join(frontier, sym.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(d).alias("dist"))
            .localCheckpoint(eager=False)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


def triangles(edges: DataFrame) -> DataFrame:
    """Distributed triangle enumeration via ordered wedge closure: with
    every edge stored once as ``src < dst``, join edges (a,b)+(b,c) into
    wedges and close them against (a,c) — each triangle (a<b<c) is emitted
    exactly once, with no post-hoc dedup.

    Scale shape (the standard algorithm, e.g. Suri & Vassilvitskii's MR
    triangle counting): two equi-join shuffles over the edge list. The
    ordering trick is what keeps it linear-ish in practice — a hub node's
    edges split into (smaller, hub) and (hub, larger) halves, so wedge
    fan-out is bounded by the SQUARE of the hub's higher-ordered degree
    only. For power-law graphs at 100 TB, order nodes by degree instead of
    id before applying this — :func:`triangles_degree_ordered` (r9) does
    exactly that and canonicalizes its output back to id order, so the two
    are row-for-row interchangeable under the same oracle.

    Output columns: node_a < node_b < node_c, one row per triangle."""
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b")
    return (
        wedges.join(e3, ["a", "c"])
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            F.col("c").alias("node_c"),
        )
    )


def triangles_degree_ordered(edges: DataFrame) -> DataFrame:
    """Triangle enumeration with the power-law hub guard (r9 — the
    optimization :func:`triangles` documents): re-orient every undirected
    edge from lower to higher rank under the (degree, id) TOTAL order
    before the wedge closure, so every node's wedge fan-out is bounded by
    its rank-order out-degree — at most O(√m) for ANY graph (Schank &
    Wagner 2005; the MR formulation is Suri & Vassilvitskii 2011), where
    id-ordering leaves a low-id hub with degree² wedges. Emits the
    IDENTICAL triangle set as :func:`triangles` (each triangle has exactly
    one rank-increasing orientation), canonicalized back to
    ``node_a < node_b < node_c`` by id so the two operators — and the SQL
    oracle — are row-for-row interchangeable.

    Cost vs :func:`triangles`: one extra degree aggregation + two edge⋈deg
    equi-joins (the degree table is |V| rows — broadcastable); the payoff
    is the wedge join's output, which is the term that explodes on skewed
    graphs."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = e.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    e1 = oriented.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    e3 = oriented.select(F.col("s").alias("a"), F.col("t").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    ids = F.array_sort(F.array("a", "b", "c"))
    return tri.select(
        ids[0].alias("node_a"), ids[1].alias("node_b"), ids[2].alias("node_c")
    )
