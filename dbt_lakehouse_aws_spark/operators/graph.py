"""Iterative graph operators on edge-list DataFrames.

Connected components (llmops/dedup.py) handles the dedup-grouping
case; this module adds PageRank — the canonical "iterative sparse
matrix-vector product" workload, here as the quality/centrality
scorer a link-graph curation pipeline uses (rank hosts by citation,
weight crawl frontiers).

Scale shape per iteration (the GraphX/Pregel plan, relationally):

* contributions = edges ⋈ ranks on src (shuffle O(edges)) with
  rank/out-degree fan-out;
* new ranks = per-dst sum (map-side combinable) + teleport and
  dangling-mass terms;
* dangling mass (rank parked on sink nodes) is a scalar aggregate
  collected per round — KBs to the driver, redistributed uniformly
  so total rank stays 1.0;
* lineage truncates via ``localCheckpoint`` every few rounds
  (PERF.md rule for iterative algorithms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: keys per frame that hyperball_closeness's register reduce yields, so
#: its final yield adds one chunk of state beside the accumulator
#: (4096 keys x 512 B = 2 MB at lg_k=9), never a copy of the whole
#: partition's registers
_HLL_CHUNK_KEYS = 4096


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Standard damped PageRank over a directed edge list; returns
    (node, rank) with Σ rank = 1 (dangling mass redistributed)."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # everything static across iterations is materialized ONCE, so
    # the loop body touches only (edges_w ⋈ ranks → per-dst sum):
    #
    # * edges_w — the edge list with the source's out-degree folded
    #   in, so no per-iteration out_deg join;
    # * dangling_nodes — only their rank MASS moves. When empty
    #   (every node has out-edges) the per-round driver round-trip
    #   disappears entirely (8-round bipartite probe: 14.4 s → 6.6 s
    #   cold);
    # * no_inedge — nodes no edge points at have a zero contribution
    #   sum every round, so their rank is the same closed-form
    #   constant for all of them: union a literal instead of
    #   left-joining contribs back onto the full node set each
    #   iteration.
    edges_w = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("_dst"))
        .join(out_deg, "node")
        .localCheckpoint(eager=True)
    )
    dangling_nodes = nodes.join(out_deg, "node", "left_anti").localCheckpoint(
        eager=True
    )
    has_dangling = dangling_nodes.limit(1).count() > 0
    no_inedge = nodes.join(
        edges.select(F.col(dst).alias("node")).distinct(), "node", "left_anti"
    ).localCheckpoint(eager=True)
    has_no_inedge = no_inedge.limit(1).count() > 0

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iters):
        dangling = 0.0
        if has_dangling:
            dangling = (
                ranks.join(F.broadcast(dangling_nodes), "node")
                .agg(F.sum("rank"))
                .collect()[0][0]
                or 0.0
            )
        contribs = (
            edges_w.join(ranks, "node")
            .select(
                F.col("_dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        # op order mirrors the pre-refactor expression bit-for-bit:
        # (1-d)/n + d*(_s + dangling/n), with _s = 0.0 for no-inedge
        # nodes (their constant is folded in Python — same IEEE-754
        # double sequence, so identical bits).
        ranks = contribs.select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * (F.col("_s") + F.lit(dangling / n))
            ).alias("rank"),
        )
        if has_no_inedge:
            zero_sum_rank = (1.0 - damping) / n + damping * (0.0 + dangling / n)
            ranks = ranks.unionByName(
                no_inedge.select("node", F.lit(zero_sum_rank).alias("rank"))
            )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def canonical_edges(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Undirected edge list → one canonical row per edge: (a, b) with
    a < b, self-loops dropped, duplicates collapsed. Every
    triangle/neighborhood operator below starts here so multigraph
    inputs can't double-count."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    return (
        edges.select(a, b).filter(F.col("a") != F.col("b")).distinct()
    )


def triangle_counts(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts via DEGREE-ORDERED ORIENTATION — the
    trick that makes distributed triangle counting survive skew.

    A naive wedge join explodes on hub nodes: a node of degree d
    produces d² wedges, and real graphs have power-law hubs. Orienting
    every undirected edge from the (degree, id)-SMALLER endpoint to
    the larger one caps every node's OUT-degree at O(√m) (a classic
    result: a node can only point at neighbors of equal-or-higher
    degree, and there can be at most 2√m nodes of degree ≥ √m), so
    the wedge join is O(Σ out_deg²) ≤ O(m·√m) worst-case and far less
    in practice — instead of O(Σ deg²), which a single hub makes
    quadratic in the graph.

    Each triangle {x,y,z} is found EXACTLY once (its unique
    orientation-minimal apex), then credited to all three corners.
    Three shuffles total (degree agg, wedge join, closing semi-join) —
    all on edge keys, no driver-side state.

    The canonical edge list is materialized once (localCheckpoint):
    it feeds the degree aggregate, both wedge branches, and the
    closing join — five consumers that would otherwise each re-derive
    the whole upstream pipeline (measured 4× wall on the co-activity
    graph, whose derivation is itself a self-join).
    """
    und = canonical_edges(edges, src=src, dst=dst).localCheckpoint(eager=True)
    # degree over the canonical undirected edges
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    wd = und.join(da, "a").join(db, "b")
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = wd.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)  # feeds both wedge branches
    e1 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("y"))
    wedges = e1.join(e2, "apex").filter(F.col("x") < F.col("y"))
    # close the wedge against the UNDIRECTED edge set (x<y matches
    # canonical orientation directly)
    tri = wedges.join(
        und, (wedges.x == und.a) & (wedges.y == und.b), "inner"
    ).select("apex", "x", "y")
    per_node = (
        tri.select(F.col("apex").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    # nodes in no triangle still appear, with 0
    return (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            "node", F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles")
        )
    )


def common_neighbor_scores(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Link prediction by neighborhood overlap: for every NON-adjacent
    node pair with ≥ ``min_common`` shared neighbors, emit
    (node_a, node_b, common, jaccard) where jaccard =
    |Γa∩Γb| / |Γa∪Γb|.

    Candidate pairs come from a wedge join through the shared
    neighbor (never an all-pairs cross), so cost is O(Σ deg(w)²) over
    wedge centers w — the same skew shape as triangle counting;
    pre-cap hub degrees upstream if the graph has extreme hubs.
    Existing edges are removed with a left-anti join, degrees folded
    in via two broadcast-friendly joins.
    """
    und = canonical_edges(edges, src=src, dst=dst).localCheckpoint(eager=True)
    # neighbor lists in both directions; materialized once — feeds the
    # degree aggregate and BOTH sides of the wedge join
    nbr = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    ).localCheckpoint(eager=True)
    deg = nbr.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    w1 = nbr.select(F.col("nbr").alias("w"), F.col("node").alias("node_a"))
    w2 = nbr.select(F.col("nbr").alias("w"), F.col("node").alias("node_b"))
    common = (
        w1.join(w2, "w")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    non_adjacent = common.join(
        und,
        (common.node_a == und.a) & (common.node_b == und.b),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("deg_b"))
    return (
        non_adjacent.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            F.col("common").cast("long").alias("common"),
            (
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            ).alias("jaccard"),
        )
    )


def ancestor_closure(
    parents: DataFrame,
    *,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 64,
) -> DataFrame:
    """Transitive ancestor closure of a forest by POINTER DOUBLING:
    returns (node, ancestor) for every proper ancestor, in
    ⌈log₂ depth⌉ self-joins instead of depth sequential ones.

    Round k joins the current closure with the k-th "jump table"
    (links of length 2^k), so a depth-d hierarchy closes in O(log d)
    shuffles of O(V·d) total rows — the output size itself, which is
    the lower bound. A per-level loop would run d shuffles (d = 20+
    for real product/org hierarchies); a recursive CTE doesn't exist
    in Spark. Cycle safety: ``max_depth`` bounds the walk, and
    convergence is detected with a bounded count per round (the jump
    table empties once 2^k exceeds the forest depth).

    The building block under :func:`subtree_rollup`; scale shape is
    all hash equi-joins on node ids — AQE-planable, no driver state
    beyond the loop counter.
    """
    links = parents.select(
        F.col(child).alias("node"), F.col(parent).alias("anc")
    ).filter(F.col("anc").isNotNull())
    closure = links.localCheckpoint(eager=True)
    jump = closure  # links of length exactly 2^k after k rounds
    depth_covered = 1
    while depth_covered < max_depth:
        # extend existing paths by the current jump length, and the
        # jump table itself doubles
        # extend FIRST: closure(1..2^k) ∘ jump(2^k) covers distances
        # 2^k+1 .. 2^{k+1}, so even when the doubled jump table comes
        # back empty (no path of length exactly 2^{k+1}), the odd
        # distances in (2^k, 2^{k+1}) are already in the closure.
        ext = (
            closure.alias("c")
            .join(jump.alias("j"), F.col("c.anc") == F.col("j.node"))
            .select(F.col("c.node").alias("node"), F.col("j.anc").alias("anc"))
        )
        closure = (
            closure.unionByName(ext).distinct().localCheckpoint(eager=True)
        )
        j2 = (
            jump.alias("x")
            .join(
                jump.alias("y"),
                F.col("x.anc") == F.col("y.node"),
            )
            .select(F.col("x.node").alias("node"), F.col("y.anc").alias("anc"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if j2.isEmpty():
            break
        jump = j2
        depth_covered *= 2
    return closure


def subtree_rollup(
    parents: DataFrame,
    values: DataFrame,
    *,
    child: str = "child",
    parent: str = "parent",
    node_col: str = "node",
    value_col: str = "value",
) -> DataFrame:
    """Hierarchical subtree aggregation: for every node, the sum of
    ``value`` over its ENTIRE subtree (descendants + itself) — the
    product-catalog / org-chart / region-tree rollup a recursive CTE
    does in one line elsewhere, built from :func:`ancestor_closure`
    (log-depth pointer doubling) + one groupBy.

    Nodes appearing only as parents (no value row) roll up their
    descendants' values; value rows for nodes outside the forest
    contribute only to themselves.
    """
    anc = ancestor_closure(parents, child=child, parent=parent)
    contrib = values.select(
        F.col(node_col).alias("target"), F.col(value_col).alias("_v")
    ).unionByName(
        values.join(
            anc, values[node_col] == anc["node"], "inner"
        ).select(F.col("anc").alias("target"), F.col(value_col).alias("_v"))
    )
    return contrib.groupBy(F.col("target").alias(node_col)).agg(
        F.sum("_v").alias("subtree_total")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iters: int = 8,
    damping: float = 0.85,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Personalized PageRank: the teleport distribution concentrates
    on ``seeds`` (uniform over the seed set) instead of all nodes —
    the random-walk-with-restart scorer behind "related to THESE
    items" recommendations and seed-expanded entity discovery.

    Same relational Pregel shape as :func:`pagerank` (edges ⋈ ranks →
    per-dst sum per iteration, O(edges) shuffle); the teleport vector
    is a broadcast-sized frame folded in with a left join, so
    personalization adds no per-iteration shuffle. Ranks start AT the
    teleport distribution and the update is
    ``(1−d)·p(v) + d·Σ in-contributions`` — nodes unreachable from
    the seed set correctly converge to 0. Dangling mass is not
    redistributed here (callers on graphs with sink nodes should add
    back-edges or use :func:`pagerank`'s dangling handling); on
    symmetric graphs there are no sinks."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed_nodes = seeds.select(F.col(seed_col).alias("node")).distinct()
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    p = F.broadcast(
        seed_nodes.withColumn("_p", F.lit(1.0 / n_seeds)).localCheckpoint(
            eager=True
        )
    )
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    edges_w = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("_dst"))
        .join(out_deg, "node")
        .localCheckpoint(eager=True)
    )
    # loop-hoist (same optimization as pagerank): every node with at
    # least one in-edge appears in the per-iteration contribution
    # aggregate (zero-rank sources still produce _s = 0 rows), so the
    # update only needs contribs ⋈ broadcast(p). Nodes with NO
    # in-edge have the constant rank (1−d)·p(v) every iteration —
    # computed once and unioned, so the loop body is contribs ⋈ one
    # broadcast frame, never a full-node join. (On symmetric graphs —
    # the driver query's case — the no-inedge set is empty and the
    # union branch disappears; wall-clock there is 8 rounds of
    # scheduler overhead at toy scale, same profile as pagerank.)
    no_inedge_ranks = (
        nodes.join(
            edges.select(F.col(dst).alias("node")).distinct(), "node", "left_anti"
        )
        .join(p, "node", "left")
        .select(
            "node",
            (F.lit(1.0 - damping) * F.coalesce("_p", F.lit(0.0))).alias("rank"),
        )
        .localCheckpoint(eager=True)
    )
    has_no_inedge = no_inedge_ranks.limit(1).count() > 0

    ranks = nodes.join(p, "node", "left").select(
        "node", F.coalesce("_p", F.lit(0.0)).alias("rank")
    )
    for i in range(iters):
        contribs = (
            edges_w.join(ranks, "node")
            .select(
                F.col("_dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = contribs.join(p, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping) * F.coalesce("_p", F.lit(0.0))
                + F.lit(damping) * F.col("_s")
            ).alias("rank"),
        )
        if has_no_inedge:
            ranks = ranks.unionByName(no_inedge_ranks)
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits_path_counts(
    edges: DataFrame,
    *,
    hub: str = "hub",
    auth: str = "auth",
    steps: int = 2,
) -> DataFrame:
    """Fixed-depth HITS power iteration in EXACT integer arithmetic:
    starting from h₀ ≡ 1, ``steps`` double-steps of

        a_{k+1}(p) = Σ_{c→p} h_k(c),   h_{k+1}(c) = Σ_{c→p} a_{k+1}(p)

    WITHOUT normalization — the iterates are then alternating-path
    COUNTS (a_k(p) = #paths of length 2k−1 ending at p), which rank
    nodes identically to normalized HITS at the same depth while
    staying BIGINT-exact and aggregation-order-independent (the
    normalized variant sums doubles whose totals drift with partition
    order). Per double-step: two equi-joins of the edge list against
    a node-sized vector + two groupBys — O(edges) shuffle per step,
    the same shape as one PageRank iteration.

    Returns (auth-node, score) for every authority. Overflow bound:
    scores grow like (d_hub·d_auth)^steps — fine for small fixed
    ``steps`` (the useful regime; rankings stabilize by depth 2–3).

    The edge list is pinned ONCE (the label_propagation_rounds
    pattern): it feeds two joins per double-step, and without the
    pin an expensive upstream constructor replays per join.
    """
    e = edges.select(F.col(hub).alias("h"), F.col(auth).alias("a")).localCheckpoint(
        eager=True
    )
    hvec = e.select("h").distinct().withColumn("score", F.lit(1).cast("long"))
    for _ in range(steps):
        avec = (
            e.join(hvec, "h")
            .groupBy("a")
            .agg(F.sum("score").alias("score"))
        )
        hvec = (
            e.join(avec, "a")
            .groupBy("h")
            .agg(F.sum("score").alias("score"))
        )
    return avec.select(F.col("a"), F.col("score").cast("long").alias("score"))


def kcore_fixed_rounds(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of
    "drop every node whose CURRENT degree < k", over the canonical
    undirected edge list. The true k-core is the fixpoint; a fixed
    round budget makes the operator a pure function of (edges, k,
    rounds) that an external SQL oracle can unroll verbatim (the
    logreg/pagerank unrolled-fixpoint device) — and in practice
    peeling converges in a handful of rounds (each round removes the
    whole current "shell", not one node, so the round count is the
    DEPTH of shell nesting, not node count).

    Per round: one degree groupBy + two semi-joins to restrict the
    edge list — O(edges) shuffles, lineage pinned per round. Returns
    (node, degree) for survivors with their within-subgraph degree.
    """
    und = canonical_edges(edges, src=src, dst=dst)
    nbr = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        keep = (
            nbr.groupBy("node")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("node")
        )
        nbr = (
            nbr.join(keep, "node")
            .join(keep.withColumnRenamed("node", "nbr"), "nbr")
            .select("node", "nbr")
            .localCheckpoint(eager=True)
        )
    return nbr.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "a",
    dst: str = "b",
    seed_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source bounded BFS on an undirected edge list: every
    node's MINIMUM hop distance (0..max_hops) from any seed —
    ``(node, dist)``, unreached nodes absent. The crawl/influence
    primitive ("everything within k hops of the trusted set") and
    the third fixpoint device in this module next to unrolled
    iteration (pagerank) and pointer doubling (ancestor_closure):
    frontier expansion visits each edge at most once per round, so a
    round costs ONE O(edges) shuffle join + a min-aggregate, and
    ``max_hops`` bounds the rounds regardless of graph size.

    Lineage truncates via ``localCheckpoint`` each round (the
    PERF.md rule for iterative algorithms); the frontier-only join
    (not the whole dist frame) keeps round cost proportional to the
    NEW wavefront, which is the property that survives 100 TB —
    a converged frontier goes empty and later rounds are no-ops.
    The symmetrized edge list is pinned ONCE (the
    label_propagation_rounds pattern): it feeds one join per round,
    and without the pin an expensive upstream constructor replays
    per round — measured ~4× the co-activity build at sf0.1.
    """
    und = edges.select(
        F.col(src).alias("_u"), F.col(dst).alias("_v")
    ).union(edges.select(F.col(dst), F.col(src))).localCheckpoint(eager=True)

    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(und, frontier["node"] == und["_u"])
            .select(F.col("_v").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return dist


def label_propagation_rounds(
    edges: DataFrame,
    *,
    src: str = "a",
    dst: str = "b",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation (LPA) community detection,
    ``rounds`` fixed rounds, fully deterministic: labels start as
    node ids; each round every node adopts its neighbors' most
    frequent label, ties broken by SMALLEST label (the argmax is a
    ``max(struct(count, -label))`` — one map-side-combinable
    aggregate, no per-node window). Returns ``(node, label)``.

    Classic LPA stops at convergence and breaks ties randomly —
    useless under a replay oracle and unbounded on adversarial
    graphs; fixing the round count and the tie order makes the
    result a pure function of the edge list (the same device as
    kcore_fixed_rounds/pagerank's fixed iteration). Each round is
    one O(edges) join + one O(edges) aggregate; lineage truncates
    per round via ``localCheckpoint``.
    """
    # Pin the symmetrized edge list ONCE: it feeds the initial label
    # frame plus one join PER ROUND, and without the checkpoint each
    # consumer re-derives the whole upstream edge construction — for
    # the capped co-activity graph that construction is the dominant
    # quadratic cost, and 4-5 re-derivations put the sf1.0 run past
    # the 240 s watchdog (r7 finding: >240 s → 70 s from this line).
    und = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .union(edges.select(F.col(dst), F.col(src)))
        .localCheckpoint(eager=True)
    )

    labels = (
        und.select(F.col("_u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node").cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        votes = (
            und.join(labels, und["_v"] == labels["node"])
            .groupBy(F.col("_u").alias("n"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy(F.col("n").alias("node"))
            .agg(
                (-F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl")))["nl"])
                .cast("long")
                .alias("label")
            )
            .localCheckpoint(eager=True)
        )
    return labels


def indexed_undirected(
    edges: DataFrame, *, src: str = "a", dst: str = "b"
) -> tuple[DataFrame, DataFrame]:
    """Shared prologue of the bit-parallel closeness forms: the
    symmetrized-distinct edge list reduced to a dense 0-based node
    index. Returns ``(idx, iedges)`` — ``idx`` is (node, _ix), both
    pinned, ``iedges`` the directed (_si, _di) integer edge list.
    Factored out (round 10) so the sketch-vs-exact audit row builds
    it ONCE instead of once per form (guide §1.2)."""
    from dbt_lakehouse_aws_spark.operators.windows import global_row_number

    # the symmetrized edge list feeds BOTH the node index and the
    # integer edge list — pin it once or the upstream constructor
    # (for the co-activity rows, a slot self-join) replays per branch
    und = (
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .union(edges.select(F.col(dst), F.col(src)))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # dense 0-based bit position per node (deterministic: id order);
    # global_row_number is the scalable two-pass rank — no
    # single-partition window funnel on the node table.
    nodes = und.select(F.col("_u").alias("node")).distinct()
    idx = (
        global_row_number(nodes, [F.asc("node")], name="_rn")
        .select("node", (F.col("_rn") - 1).alias("_ix"))
        .localCheckpoint(eager=True)
    )
    iedges = (
        und.join(idx.withColumnRenamed("node", "_u"), "_u")
        .select(F.col("_ix").alias("_si"), "_v")
        .join(idx.withColumnRenamed("node", "_v"), "_v")
        .select("_si", F.col("_ix").alias("_di"))
        .localCheckpoint(eager=True)
    )
    return idx, iedges


def bounded_closeness(
    edges: DataFrame,
    *,
    src: str = "a",
    dst: str = "b",
    max_hops: int = 3,
    indexed: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Bounded-horizon HARMONIC closeness centrality on an undirected
    edge list: for every node, ``sum over reached nodes of 1/dist``
    with dist ≤ ``max_hops`` — the centrality variant that handles
    disconnected graphs (Boldi & Vigna, "Axioms for centrality").

    Exactness device: 1/dist is kept in INTEGER twelfths
    (lcm(1..4) = 12 → dist 1/2/3/4 contribute 12/6/4/3 units), so the
    result column ``harmonic12`` is a BIGINT both engines agree on
    bit-for-bit — no float summation order anywhere.

    Scale shape: BIT-PARALLEL BFS (the HyperBall message pattern with
    exact packed bitsets in place of HLL registers). Every node's
    cumulative reachability set is one ``ceil(n/8)``-byte mask; each
    round ships one mask per DIRECTED EDGE and OR-reduces per node
    (Arrow-batched numpy, no Python row loop), so round h moves
    O(m·n/8) bytes — a factor ~24·8 below the previous pair-BFS
    formulation, whose (source, node) frontier join materialized
    O(Σ_s |frontier_h(s)|·deg) ROWS before its distinct (measured
    138 s → ~4 s at sf0.1 on the shared≥3 co-activity graph, where
    3-hop reach ≈ the whole component and the pair state hit n²).
    State is Θ(n²/8) bits, which is why the horizon is bounded —
    unbounded exact closeness is O(n·m); at 100 TB the standard
    scale path is HyperBall (HLL-sketched neighborhood sizes), for
    which this exact bounded form is the calibration oracle.
    Lineage truncates per round (localCheckpoint).

    Returns (node, n_reached, harmonic12).
    """
    if max_hops > 4:
        raise ValueError("harmonic12 integer units support max_hops <= 4")
    import pandas as pd

    idx, iedges = indexed if indexed is not None else indexed_undirected(
        edges, src=src, dst=dst
    )
    n = idx.count()
    width = (n + 7) // 8

    # Per-KEY OR-reduce, implemented as a partition-level vectorized
    # pass instead of groupBy().applyInPandas: hash-partition by the
    # key, then ONE numpy reduceat per Arrow batch + a dict merge for
    # groups that straddle batches. applyInPandas paid one Python
    # call per GROUP (one per node — thousands of millisecond-scale
    # calls per round, measured ~2 s/round at sf0.1); this is one
    # call per batch. OR is associative/commutative, so the result
    # is bit-identical regardless of grouping.
    mask_schema = "_ix long, _m binary"

    def _or_by_key(key_col: str, val_to_mask):
        def run(batches):
            import numpy as np

            acc: dict[int, "np.ndarray"] = {}
            for pdf in batches:
                keys = pdf[key_col].to_numpy()
                masks = val_to_mask(pdf, np)
                order = np.argsort(keys, kind="stable")
                keys_s = keys[order]
                masks_s = masks[order]
                bounds = np.flatnonzero(
                    np.r_[True, keys_s[1:] != keys_s[:-1]]
                )
                red = np.bitwise_or.reduceat(masks_s, bounds, axis=0)
                for k, m in zip(keys_s[bounds], red):
                    prev = acc.get(int(k))
                    acc[int(k)] = m if prev is None else (prev | m)
            if acc:
                yield pd.DataFrame(
                    {
                        "_ix": list(acc.keys()),
                        "_m": [m.tobytes() for m in acc.values()],
                    }
                )

        return run

    def _bits_of_di(pdf, np):
        di = pdf["_di"].to_numpy()
        masks = np.zeros((len(di), width), dtype=np.uint8)
        masks[np.arange(len(di)), di // 8] = (1 << (di % 8)).astype(np.uint8)
        return masks

    def _bytes_of_m(pdf, np):
        return np.frombuffer(b"".join(pdf["_m"]), dtype=np.uint8).reshape(
            len(pdf), width
        )

    cum = [
        iedges.repartition("_si")
        .withColumnRenamed("_si", "_ix")
        .mapInPandas(_or_by_key("_ix", _bits_of_di), mask_schema)
        .localCheckpoint(eager=True)
    ]
    for _h in range(2, max_hops + 1):
        prev = cum[-1]
        msgs = (
            iedges.join(prev.withColumnRenamed("_ix", "_di"), "_di")
            .select(F.col("_si").alias("_ix"), "_m")
            .unionByName(prev)
        )
        cum.append(
            msgs.repartition("_ix")
            .mapInPandas(_or_by_key("_ix", _bytes_of_m), mask_schema)
            .localCheckpoint(eager=True)
        )

    unit = {1: 12, 2: 6, 3: 4, 4: 3}
    units = [unit[h] for h in range(1, max_hops + 1)]
    joined = idx
    for h, c in enumerate(cum, start=1):
        joined = joined.join(c.withColumnRenamed("_m", f"_m{h}"), "_ix")

    def _score(batches):
        import numpy as np

        for pdf in batches:
            ix = pdf["_ix"].to_numpy()
            rows = np.arange(len(pdf))
            self_byte, self_bit = ix // 8, (1 << (ix % 8)).astype(np.uint8)
            pops = []
            for h in range(1, len(units) + 1):
                a = np.frombuffer(
                    b"".join(pdf[f"_m{h}"]), dtype=np.uint8
                ).reshape(len(pdf), width).copy()
                a[rows, self_byte] &= ~self_bit  # dist(s,s) = 0, never counted
                pops.append(np.unpackbits(a, axis=1).sum(axis=1).astype(np.int64))
            shells = [pops[0]] + [pops[h] - pops[h - 1] for h in range(1, len(pops))]
            harmonic = sum(u * s for u, s in zip(units, shells))
            yield pd.DataFrame(
                {
                    "node": pdf["node"],
                    "n_reached": pops[-1],
                    "harmonic12": harmonic,
                }
            )

    out_type = joined.schema["node"].dataType.simpleString()
    return joined.mapInPandas(
        _score, f"node {out_type}, n_reached long, harmonic12 long"
    )


def hyperball_closeness(
    edges: DataFrame,
    *,
    src: str = "a",
    dst: str = "b",
    max_hops: int = 3,
    lg_k: int = 9,
    indexed: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """HyperBall (Boldi, Rosa & Vigna, WWW'11): hop-bounded
    neighborhood-size ESTIMATES via HyperLogLog counters — the
    100 TB scale path for closeness, with :func:`bounded_closeness`
    as its exact calibration oracle (VERDICT r9 item 4).

    Same message topology as the exact form — each round ships one
    counter per directed edge and reduces per node — but the per-node
    state is ``m = 2^lg_k`` HLL registers (bytes) instead of a
    ``ceil(n/8)``-byte reachability bitset: Θ(n·m) total state vs
    Θ(n²/8), so the sketch keeps running past the exact form's
    crossover at n = 8m nodes (n ~ millions at 100 TB). HLL union is
    element-wise register MAX — associative, commutative, idempotent,
    exactly the properties the OR-reduce relied on — implemented as
    one ``np.maximum.reduceat`` per Arrow batch (guide §4.2). The
    node hash is a fixed splitmix64 over the dense node index, so
    every estimate is DETERMINISTIC: re-runs and both engines' gates
    see identical numbers (no sketch luck; the standard estimator
    with the linear-counting small-range branch).

    Returns (node, est1 … est``max_hops``): the estimated number of
    OTHER nodes within h hops (the HLL estimate of the ball
    including self, minus one). Measured vs the exact form on the
    capped co-activity graph: max per-node relative error 0.3% at
    sf0.1 (1.5k nodes), 10.2% at sf1.0 (3.2k nodes, raw-estimator
    regime at m=512), harmonic-total error ≤ 2.6% at every SF.
    """
    import pandas as pd

    m = 1 << lg_k
    idx, iedges = indexed if indexed is not None else indexed_undirected(
        edges, src=src, dst=dst
    )
    reg_schema = "_ix long, _m binary"

    def _reg_of_ix(ix, np):
        """splitmix64(node index) → (register slot j, rank rho)."""
        x = ix.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
        j = (x & np.uint64(m - 1)).astype(np.int64)
        w = x >> np.uint64(lg_k)
        nbits = 64 - lg_k
        rho = np.full(len(ix), nbits + 1, dtype=np.uint8)
        nz = w != 0
        wl = w[nz]
        bl = np.zeros(len(wl), dtype=np.int64)
        cur = wl.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            big = cur >= (np.uint64(1) << np.uint64(shift))
            bl[big] += shift
            cur[big] >>= np.uint64(shift)
        rho[nz] = (nbits - bl).astype(np.uint8)
        return j, rho

    alpha = 0.7213 / (1.0 + 1.079 / m)

    def _estimate(regmat, np):
        """Vectorized standard HLL estimator over a (rows, m) register
        matrix, with the linear-counting small-range branch; minus 1
        because the ball includes self."""
        regs = regmat.astype(np.float64)
        raw = alpha * m * m / np.power(2.0, -regs).sum(axis=1)
        v = (regmat == 0).sum(axis=1)
        small = (raw <= 2.5 * m) & (v > 0)
        lc = m * np.log(m / np.maximum(v, 1).astype(np.float64))
        return np.maximum(np.where(small, lc, raw) - 1.0, 0.0)

    def _max_by_key(key_col: str, val_to_regs):
        """One reduce pass: per-key register MAX, the hop's estimate
        computed in the SAME pass (the registers and the estimate
        leave together, so no separate estimator pass or
        binary-column final join — round-10 fusion, guide §4.2)."""

        def run(batches):
            import numpy as np

            acc: dict[int, "np.ndarray"] = {}
            for pdf in batches:
                keys = pdf[key_col].to_numpy()
                regs = val_to_regs(pdf, np)
                order = np.argsort(keys, kind="stable")
                keys_s = keys[order]
                regs_s = regs[order]
                bounds = np.flatnonzero(np.r_[True, keys_s[1:] != keys_s[:-1]])
                red = np.maximum.reduceat(regs_s, bounds, axis=0)
                for k, r in zip(keys_s[bounds], red):
                    prev = acc.get(int(k))
                    acc[int(k)] = r if prev is None else np.maximum(prev, r)
            # each chunk leaves the accumulator as it is yielded
            ks = list(acc)
            for i in range(0, len(ks), _HLL_CHUNK_KEYS):
                part = ks[i : i + _HLL_CHUNK_KEYS]
                regmat = np.stack([acc.pop(k) for k in part])
                yield pd.DataFrame(
                    {
                        "_ix": part,
                        "_m": [r.tobytes() for r in regmat],
                        "_est": _estimate(regmat, np),
                    }
                )

        return run

    def _regs_of_di(pdf, np):
        di = pdf["_di"].to_numpy()
        regs = np.zeros((len(di), m), dtype=np.uint8)
        j, rho = _reg_of_ix(di, np)
        regs[np.arange(len(di)), j] = rho
        return regs

    def _bytes_of_m(pdf, np):
        return np.frombuffer(b"".join(pdf["_m"]), dtype=np.uint8).reshape(
            len(pdf), m
        )

    # b_0(v) = HLL({v}); b_h(v) = b_{h-1}(v) ∪ ⋃_{u→v} b_{h-1}(u).
    # The self term rides the SAME init reduce as the neighbor terms
    # via synthetic self-loop rows — one Python pass, not two.
    reg_schema = reg_schema + ", _est double"
    init = iedges.select(F.col("_si").alias("_ix"), "_di").unionByName(
        idx.select("_ix", F.col("_ix").alias("_di"))
    )
    cum = [
        init.repartition("_ix")
        .mapInPandas(_max_by_key("_ix", _regs_of_di), reg_schema)
        .localCheckpoint(eager=True)
    ]
    for _h in range(2, max_hops + 1):
        prev = cum[-1].select("_ix", "_m")
        msgs = (
            iedges.join(prev.withColumnRenamed("_ix", "_di"), "_di")
            .select(F.col("_si").alias("_ix"), "_m")
            .unionByName(prev)
        )
        cum.append(
            msgs.repartition("_ix")
            .mapInPandas(_max_by_key("_ix", _bytes_of_m), reg_schema)
            .localCheckpoint(eager=True)
        )

    # estimates were computed inside each round's reduce — the final
    # join carries only (node, est1..estH) doubles, no register blobs
    joined = idx
    for h, c in enumerate(cum, start=1):
        joined = joined.join(
            c.select("_ix", F.col("_est").alias(f"est{h}")), "_ix"
        )
    return joined.select(
        "node", *[f"est{h}" for h in range(1, max_hops + 1)]
    )


def bellman_ford_rounds(
    weighted_edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "a",
    dst: str = "b",
    weight: str = "w",
    seed_col: str = "node",
    rounds: int = 4,
) -> DataFrame:
    """Hop-bounded single-source-set shortest paths on a WEIGHTED
    undirected edge list: after R synchronous Bellman-Ford relaxation
    rounds, every node's minimum-cost path from any seed using at
    most R edges. Weights must be non-negative INTEGERS (quantize
    upstream — e.g. floor(1e6/shared)) so path costs are exact
    BIGINTs and min() is engine-order-free.

    Each round is one O(edges) join + one min-aggregate over
    (previous dists ∪ relaxed dists); R bounds the work regardless
    of graph size — the distributed SSSP form that ships in every
    Pregel-style system (hop-bounded = "delta-stepping with one
    bucket"). Lineage truncates per round.

    The symmetrized edge list is materialized ONCE (localCheckpoint,
    the pagerank edges_w pattern): every round's join re-reads it,
    and without the pin an expensive upstream constructor (e.g. the
    co-activity slot self-join) replays per round — measured 4× the
    constructor cost at sf0.1 before the pin.

    Returns (node, dist) for nodes reachable within R hops.
    """
    und = weighted_edges.select(
        F.col(src).alias("_u"), F.col(dst).alias("_v"), F.col(weight).alias("_w")
    ).unionByName(
        weighted_edges.select(
            F.col(dst).alias("_u"), F.col(src).alias("_v"), F.col(weight).alias("_w")
        )
    ).localCheckpoint(eager=True)

    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        relaxed = (
            dist.join(und, dist["node"] == und["_u"])
            .select(F.col("_v").alias("node"), (F.col("dist") + F.col("_w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


def cap_neighbors(
    weighted_edges: DataFrame,
    *,
    src: str = "a",
    dst: str = "b",
    weight: str = "shared",
    k: int = 16,
) -> DataFrame:
    """kNN-graph degeneracy control: keep each node's top-``k``
    strongest neighbors (weight DESC, neighbor-id ASC — fully
    deterministic), an edge surviving if EITHER endpoint keeps it
    (the standard kNN symmetrization). Bounds every node's degree by
    at most 2k, so downstream wedge enumeration (triangles,
    common-neighbor scores) costs O(n*k^2) REGARDLESS of raw graph
    density — the modeling knob the sf1.0 bench showed the exact
    Sigma-deg^2 rows need when slot density grows 10x. One
    per-node rank window over bounded partitions; returns canonical
    (a < b) edges.
    """
    # the symmetrizing union reads the input TWICE — pin it once so
    # an expensive upstream constructor (the co-activity slot
    # self-join for every capped twin) doesn't replay per branch
    weighted_edges = weighted_edges.localCheckpoint(eager=True)
    sym = weighted_edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nbr"), F.col(weight).alias("_w")
    ).unionByName(
        weighted_edges.select(
            F.col(dst).alias("node"), F.col(src).alias("nbr"), F.col(weight).alias("_w")
        )
    )
    w = Window.partitionBy("node").orderBy(F.desc("_w"), F.asc("nbr"))
    kept = sym.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k)
    return (
        kept.select(
            F.least("node", "nbr").alias("a"), F.greatest("node", "nbr").alias("b")
        )
        .distinct()
    )


def weighted_pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 8,
    damping: float = 0.85,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Weighted PageRank with the TextRank recurrence (Mihalcea &
    Tarau 2004): r(v) = (1−d) + d·Σ_u r(u)·w(u,v)/wdeg(u), ranks
    initialized to 1.0 (the per-node convention — Σr is NOT
    normalized to 1, unlike :func:`pagerank`).

    Requires every node to appear as a source (symmetric/undirected
    graphs satisfy this by construction) — weighted dangling-mass
    redistribution is not defined here and the operator raises
    rather than silently mis-ranking. Nodes with out-edges but no
    IN-edges are kept in the rank vector across iterations (their
    incoming sum coalesces to 0, rank = 1−d, and their outgoing
    contributions keep flowing) — mirroring :func:`pagerank`'s
    explicit no-in-edge handling.

    Same scale shape as :func:`pagerank`: the edge list with the
    source's weight-degree folded into a per-edge RATIO is
    materialized once, so each iteration is one hash join + one
    per-destination sum — O(edges) per round, no driver round-trip.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    wdeg = edges.groupBy(F.col(src).alias("node")).agg(
        F.sum(weight).alias("_wd")
    )
    if nodes.join(wdeg, "node", "left_anti").limit(1).count() > 0:
        raise ValueError(
            "weighted_pagerank requires every node to have out-edges "
            "(symmetrize the graph first)"
        )
    # ratio = w/wdeg computed ONCE — one double division per edge,
    # replayed identically by the unrolled SQL oracle
    edges_w = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("_dst"), weight)
        .join(wdeg, "node")
        .select(
            "node",
            "_dst",
            (F.col(weight).cast("double") / F.col("_wd")).alias("_ratio"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(iters):
        contribs = (
            edges_w.join(ranks, "node")
            .select(
                F.col("_dst").alias("node"),
                (F.col("rank") * F.col("_ratio")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        # Left-join back onto the FULL node set: a node with
        # out-edges but no in-edges has no contribs row; without
        # this it would vanish after iteration 1, silently dropping
        # its outgoing mass too (ADVICE r6 #1).
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks
