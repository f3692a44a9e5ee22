"""Round-10 registration (optimization round 2): the HyperBall
sketched-closeness audit row ordered by VERDICT r9 item 4 — the
100 TB scale path for the closeness family, verified engine-side
against its exact calibration oracle.

One row only: the driver window stays FROZEN this round (rotation.py
— no staged promotions in an optimization round); this row's first
driver-window evidence lands with the next rotation, and until then
it is gated by the always-on pytest oracle replica + the full
check_oracle gate like every other registered query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.operators.coactivity import (
    coactivity_capped_sql as _coactivity_capped_sql,
    coactivity_weighted_capped as _coactivity_weighted_capped,
)

_CLOSENESS_SKETCH_ORACLE = f"""
    WITH {_coactivity_capped_sql().strip().rstrip()},
    edges AS (SELECT a, b FROM strong),
    sym AS MATERIALIZED (
      SELECT a AS u, b AS v FROM edges UNION SELECT b, a FROM edges
    ),
    p1 AS MATERIALIZED (SELECT DISTINCT u AS s, v AS node FROM sym),
    p2 AS MATERIALIZED (
      SELECT DISTINCT p1.s, n.v AS node
      FROM p1 JOIN sym n ON n.u = p1.node
      WHERE n.v <> p1.s
        AND NOT EXISTS (SELECT 1 FROM p1 x WHERE x.s = p1.s AND x.node = n.v)
    ),
    p3 AS MATERIALIZED (
      SELECT DISTINCT p2.s, n.v AS node
      FROM p2 JOIN sym n ON n.u = p2.node
      WHERE n.v <> p2.s
        AND NOT EXISTS (SELECT 1 FROM p1 x WHERE x.s = p2.s AND x.node = n.v)
        AND NOT EXISTS (SELECT 1 FROM p2 y WHERE y.s = p2.s AND y.node = n.v)
    ),
    hops AS (
      SELECT s, 12 AS unit FROM p1
      UNION ALL SELECT s, 6 FROM p2
      UNION ALL SELECT s, 4 FROM p3
    )
    SELECT (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM sym) AS n_nodes,
           CAST(sum(unit) AS BIGINT) AS harmonic12_total,
           TRUE AS node_bound_ok,
           TRUE AS total_bound_ok
    FROM hops
    """


def closeness_sketch_users_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HyperBall-sketched harmonic closeness on the slot-bounded
    co-activity graph, tolerance-checked ENGINE-SIDE against the
    exact bit-parallel form — the hll_error_bound_users device
    applied to neighborhood functions (VERDICT r9 item 4).

    ``operators/graph.py::hyperball_closeness`` runs the identical
    message topology as ``bounded_closeness`` with m = 512 HLL
    registers per node in place of the exact ceil(n/8)-byte
    reachability bitset: Θ(n·m) state instead of Θ(n²/8), so the
    sketch is what still runs when the node count passes the exact
    form's 8m-node crossover (n ~ millions at 100 TB; the exact row
    stays registered as the calibration oracle). The node hash is a
    fixed splitmix64 over the dense node index, so every estimate is
    deterministic — the bound columns assert measured-at-every-SF
    margins (per-node ball-size estimates within 15% for >= 95% of
    nodes, harmonic-mass total within 10%; measured worst cases:
    max node error 10.2% at sf1.0, total error 2.6%), not sketch
    luck. The oracle pins the EXACT side (node count + integer
    harmonic mass from the 3-shell unroll) and the bound booleans;
    the estimates themselves are engine-specific, exactly like the
    HLL/KMV error-bound rows.

    The per-node bound has only ~5 points of headroom (worst node
    10.2% vs the 15% bound at sf1.0, raw-estimator regime at m=512).
    The estimates are deterministic per dataset, so a new scale factor
    can cross the bound without any run-to-run flake. Before gating a
    new scale factor, re-measure on it: run this query with the
    ``node_ok`` share and the worst per-node relative error
    ``|est3 - n_reached| / n_reached`` selected alongside, and gate it
    only if every node error stays under 15% (so ``_share_ok`` is 1.0)
    and the total error under 10%. Record the measurement in PERF.md.
    Never widen the bound to pass."""
    from dbt_lakehouse_aws_spark.operators.graph import (
        bounded_closeness,
        hyperball_closeness,
        indexed_undirected,
    )

    # one pinned constructor AND one indexed-edge prologue feed both
    # forms (guide §5 / §1.2 — the audit row would otherwise pay the
    # symmetrize + dense-index + integer-edge build twice)
    edges = (
        _coactivity_weighted_capped(spark, sf_dir, min_shared=3)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    indexed = indexed_undirected(edges)
    exact = bounded_closeness(edges, max_hops=3, indexed=indexed)
    sk = hyperball_closeness(edges, max_hops=3, lg_k=9, indexed=indexed)
    s1 = F.col("est1")
    s2 = F.greatest(F.col("est2") - F.col("est1"), F.lit(0.0))
    s3 = F.greatest(F.col("est3") - F.col("est2"), F.lit(0.0))
    h_est = F.lit(12.0) * s1 + F.lit(6.0) * s2 + F.lit(4.0) * s3
    node_ok = (
        F.abs(F.col("est3") - F.col("n_reached"))
        <= 0.15 * F.col("n_reached")
    ).cast("double")
    agg = exact.join(sk, "node").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("harmonic12").cast("long").alias("harmonic12_total"),
        F.avg(node_ok).alias("_share_ok"),
        F.sum(h_est).alias("_h_est_total"),
        F.sum("harmonic12").cast("double").alias("_h_exact_total"),
    )
    return agg.select(
        "n_nodes",
        "harmonic12_total",
        (F.col("_share_ok") >= 0.95).alias("node_bound_ok"),
        (
            F.abs(F.col("_h_est_total") - F.col("_h_exact_total"))
            <= 0.10 * F.col("_h_exact_total")
        ).alias("total_bound_ok"),
    )


# ---------------------------------------------------------------------------
# Registration: after the definition so the query enters the registry
# with its final oracle.
# ---------------------------------------------------------------------------
from dbt_lakehouse_aws_spark.standard_queries import register as _register  # noqa: E402

_register("closeness_sketch_users_events", _CLOSENESS_SKETCH_ORACLE)(
    closeness_sketch_users_events
)
