"""Spatial proximity join via grid bucketing.

Spark has no spatial join; the naive formulation (cross join +
distance filter) is O(|A|·|B|) and planned as BroadcastNestedLoopJoin
— a non-starter at scale. The standard distributed answer is GRID
BUCKETING (the same family as the banded range join in
operators/temporal.py, in two dimensions):

* hash every point into a square cell of side ``radius``;
* a pair within ``radius`` must lie in the same or one of the 8
  neighboring cells; the 8 neighbors come in 4 antipodal pairs, so
  replicating ONE side into the home cell + 4 DIRECTIONS (E, N, NE,
  SE) visits every unordered cell pair exactly once and turns the
  candidate search into a plain equi-join on the cell key —
  hash-partitioned, AQE-planable, skew-splittable, and duplicate-free
  by construction (no de-dup shuffle);
* the exact distance predicate filters the cell collisions.

Cost: 5·|A| replicated rows + per-cell products — O(points·density),
never all-pairs. Dense hot cells (a city center) are the skew lever:
shrink the cell size or salt the hot cells upstream.

Coordinates here are INTEGER (meters, micro-degrees…): the distance
test compares squared integers, so results are exact and an external
SQL oracle replays them bit-for-bit — no trigonometry, no float
epsilon at the boundary.
"""

from __future__ import annotations

from dbt_lakehouse_aws_spark.localframe import local_frame
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grid_proximity_pairs(
    df: DataFrame,
    *,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
) -> DataFrame:
    """All unordered pairs (id_a < id_b) of points within EUCLIDEAN
    ``radius`` (inclusive, integer coordinates), found through a
    DIRECTED grid-cell equi-join. Returns (id_a, id_b, dist_sq).

    Round 10 (guide §2.3 fewer replicated rows / §2.4 remove the
    distinct exchange): the 8 neighbor cells come in 4 antipodal
    pairs, so enumerating the home cell plus ONE direction from each
    pair — E, N, NE, SE — visits every unordered cell pair exactly
    once. A qualifying point pair is therefore found exactly once
    (same-cell pairs canonicalized by ``id_a < id_b``; cross-cell
    pairs by the unique direction that maps cell(a) to cell(b), then
    least/greatest), so the 9× left replication drops to 5× and the
    de-duplicating ``distinct`` — a full shuffle of every candidate
    pair — disappears. For unique ids the output is bit-identical to
    the 3×3 form (measured symdiff 0 at sf0.1; 0.86 s → 0.44 s on the
    544k-pair DBSCAN feed).

    Precondition: ``id_col`` is unique. It is not checked (that would
    cost a Spark job per call), and nothing de-duplicates: a repeated
    row yields one pair row per copy, and an id whose copies sit in
    neighboring cells pairs with itself (``id_a == id_b``)."""
    cell_x = F.floor(F.col(x_col) / radius).cast("long")
    cell_y = F.floor(F.col(y_col) / radius).cast("long")
    home = df.select(
        F.col(id_col).alias("_id"),
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
        cell_x.alias("_cx"),
        cell_y.alias("_cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1), (1, -1))
        ]
    )
    left = home.select(
        F.col("_id").alias("ia"),
        F.col("_x").alias("xa"),
        F.col("_y").alias("ya"),
        F.explode(offsets).alias("_o"),
        "_cx",
        "_cy",
    ).select(
        "ia",
        "xa",
        "ya",
        ((F.col("_o.dx") == 0) & (F.col("_o.dy") == 0)).alias("_same"),
        (F.col("_cx") + F.col("_o.dx")).alias("cx"),
        (F.col("_cy") + F.col("_o.dy")).alias("cy"),
    )
    right = home.select(
        F.col("_id").alias("ib"),
        F.col("_x").alias("xb"),
        F.col("_y").alias("yb"),
        F.col("_cx").alias("cx"),
        F.col("_cy").alias("cy"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    dist_sq = dx * dx + dy * dy
    return (
        left.join(right, ["cx", "cy"])
        .filter((~F.col("_same")) | (F.col("ia") < F.col("ib")))
        .filter(dist_sq <= F.lit(radius) * F.lit(radius))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            dist_sq.cast("long").alias("dist_sq"),
        )
    )


def dbscan_labels(
    df: DataFrame,
    *,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int,
    min_pts: int,
    max_iterations: int = 20,
) -> DataFrame:
    """Distributed DBSCAN over integer coordinates: density clusters
    from the grid-bucketed ε-neighbor graph.

    Pipeline — every stage an existing scalable primitive:

    1. ε-neighbor pairs via :func:`grid_proximity_pairs` (directed
       grid-cell equi-join, O(points·density), never all-pairs);
    2. degrees from one groupBy → CORE points (``|N(p)|+1 ≥
       min_pts``, self included, the classic definition);
    3. clusters = connected components of the core–core subgraph
       (min-label propagation, ≤ ⌈log₂ diameter⌉-ish rounds — dense
       DBSCAN clusters have tiny diameters, so this converges in 2–3
       joins);
    4. BORDER points (non-core adjacent to ≥1 core) adopt the MIN
       adjacent core cluster — a deterministic resolution of
       DBSCAN's documented border-assignment ambiguity;
    5. everything else is NOISE (cluster NULL).

    Labels are min-reachable-core-ids: a pure function of the edge
    set, so an external recursive-CTE closure oracle reproduces them
    exactly. Returns (id, role, cluster) for EVERY input point,
    role ∈ {'core','border','noise'}.
    """
    from dbt_lakehouse_aws_spark.llmops.dedup import connected_components

    pairs = grid_proximity_pairs(
        df, id_col=id_col, x_col=x_col, y_col=y_col, radius=eps
    )
    from pyspark import StorageLevel

    sym = (
        pairs.select(F.col("id_a").alias("id"), F.col("id_b").alias("nbr"))
        .unionByName(
            pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"))
        )
        # four downstream consumers (degree, two edge-endpoint joins,
        # border adoption) would each re-run the grid join; pin the
        # neighbor list once. SERIALIZED memory+disk, not
        # localCheckpoint: the ε-neighbor list is Σ density² rows at
        # FIXED blob area, so a 10× denser corpus yields 100× pairs —
        # at sf1.0 the deserialized in-memory pin OOM'd an 8 GB heap
        # mid-unroll (r7 finding; the OOM also wedged the whole JVM).
        # Serialized storage (PySpark's MEMORY_AND_DISK level; the
        # DataFrame persist default is the _DESER variant) unrolls
        # incrementally and SPILLS instead of dying, so the same
        # query is slow-but-correct at any density while staying
        # memory-resident at bench scales.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()  # materialize the pin before fan-out
    core = (
        sym.groupBy("id")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .filter(F.col("_deg") + 1 >= min_pts)
        .select("id")
    )

    # Two-level contraction before label propagation: a square cell
    # of side ⌊eps/√2⌋ has diagonal ≤ eps, so the core points inside
    # one cell are pairwise neighbors — a clique, hence one component
    # fragment. Contract each cell's cores to a supernode (labeled
    # with the cell's MIN core id) and run min-label propagation on
    # the CELL graph: dense DBSCAN clusters collapse from millions of
    # point-point edges to a few hundred cell-cell edges, and the
    # iteration cost stops depending on cluster density entirely.
    # Exact: contracting an internally-connected vertex subset
    # preserves components, and min(min-per-cell) = min-per-component.
    side = max(int(eps / 2**0.5), 1)
    cell = df.select(
        F.col(id_col).alias("id"),
        F.floor(F.col(x_col) / side).cast("long").alias("_gx"),
        F.floor(F.col(y_col) / side).cast("long").alias("_gy"),
    )
    core_cell = core.join(cell, "id")
    supern = core_cell.groupBy("_gx", "_gy").agg(F.min("id").alias("_sn"))
    # pinned: core_sn feeds both endpoint joins below, the core
    # labeling, and the border anti-join — four reads of the degree
    # aggregate + cell joins otherwise (guide §5 caching rule)
    core_sn = (
        core_cell.join(supern, ["_gx", "_gy"])
        .select("id", "_sn")
        .localCheckpoint(eager=True)
    )
    # core_sn holds ONLY core ids, so inner-joining both endpoints
    # against it restricts to the core–core subgraph AND contracts to
    # supernodes in one step — the previous core/core_b semi-join
    # pair shuffled the full ε-neighbor list twice for a filter this
    # join already performs (guide §2.4; measured 10.5 → 5.8 s for
    # the DBSCAN row at sf0.1 together with the adopt prune below)
    sn_edges = (
        sym.join(core_sn.select(F.col("id"), F.col("_sn").alias("_sa")), "id")
        .join(
            core_sn.select(F.col("id").alias("nbr"), F.col("_sn").alias("_sb")),
            "nbr",
        )
        .select("_sa", "_sb")
        .filter(F.col("_sa") != F.col("_sb"))
        .distinct()
    )
    # The contracted graph is O(occupied cells), not O(points): when
    # it fits the bounded-metadata budget (same pattern as the
    # 4096-row centroid collects in llmops/similarity.py), a
    # driver-side union-find replaces ~diameter rounds of join +
    # checkpoint + count actions with one job. Beyond the bound —
    # continent-scale occupied area — the distributed min-label loop
    # takes over. Both produce the identical min-id labeling.
    sn_edges = sn_edges.localCheckpoint()
    if sn_edges.count() <= 100_000:
        parent: dict = {}

        def find(a):
            while parent.setdefault(a, a) != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for r in sn_edges.collect():
            ra, rb = find(r["_sa"]), find(r["_sb"])
            if ra != rb:
                # root at the smaller id so labels are min-ids
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        spark = df.sparkSession
        comps = local_frame(
            spark,
            [(n, find(n)) for n in list(parent)] or [(None, None)],
            "node long, component long",
        ).filter(F.col("node").isNotNull())
    else:
        comps = connected_components(
            sn_edges, a_col="_sa", b_col="_sb", max_iterations=max_iterations
        )
    sn_lbl = supern.join(comps, supern["_sn"] == comps["node"], "left").select(
        supern["_sn"],
        F.coalesce(F.col("component"), supern["_sn"]).alias("cluster"),
    )
    core_lbl = core_sn.join(sn_lbl, "_sn").select("id", "cluster")
    # Border adoption only matters for NON-core points — the final
    # coalesce prefers the core label — and a non-core point has at
    # most min_pts-2 neighbors by definition, so anti-joining the
    # core set first shrinks the adopt input from the full ε-neighbor
    # list to a handful of rows before the min-label shuffle
    # (guide §2.3: shuffle fewer bytes). Identical output: pruned
    # rows could only produce _adopted values the final coalesce
    # discards.
    noncore_sym = sym.join(core_sn.select("id"), "id", "left_anti")
    adopt = (
        noncore_sym.join(
            core_lbl.select(
                F.col("id").alias("nbr"), F.col("cluster").alias("_c")
            ),
            "nbr",
        )
        .groupBy("id")
        .agg(F.min("_c").alias("_adopted"))
    )
    pts = df.select(F.col(id_col).alias("id"))
    return (
        pts.join(core_lbl.withColumnRenamed("cluster", "_core_c"), "id", "left")
        .join(adopt, "id", "left")
        .select(
            "id",
            F.when(F.col("_core_c").isNotNull(), F.lit("core"))
            .when(F.col("_adopted").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("_core_c"), F.col("_adopted")).alias("cluster"),
        )
    )
