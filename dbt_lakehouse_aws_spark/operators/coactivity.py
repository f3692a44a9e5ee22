"""User co-activity graph shared by the graph queries (PageRank,
triangles, link prediction, k-core, PPR, HITS, BFS, assortativity):
two users share an edge when they emit the same event_type in the
same hour slot at least ``min_shared`` times — hour granularity
keeps the graph sparse (day granularity makes it complete at every
SF).

The standard graph queries run at min_shared=3: the shared≥2 graph
is 34% DENSE at sf0.1 (384k edges / 1.5k nodes — avg degree 512),
where wedge enumeration costs 67M (triangles, even oriented) / 400M
(common-neighbor) row scans for no extra signal; at ≥3 the graph is
sparse at every SF and stays non-empty at sf0.001 (measured,
PERF.md). Orientation still guards the HUB case — probed separately
at a 100k-degree hub (PERF.md, probe #9).

Lives in a leaf module so query modules (queries_r5 .. queries_r10)
can all share it without circular imports through
``standard_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.sources.tables import T


def coactivity_edges_sql(min_shared: int) -> str:
    """DuckDB CTE prelude (``ue``/``shared``/``edges``) mirroring
    :func:`coactivity_edges` — splice into oracle SQL with
    ``WITH {coactivity_edges_sql(3)}, ...``."""
    return f"""
    ue AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
      FROM events
    ),
    shared AS (
      SELECT x.user_id AS a, y.user_id AS b, count(*) AS shared
      FROM ue x JOIN ue y
        ON x.event_type = y.event_type AND x.hr = y.hr
       AND x.user_id < y.user_id
      GROUP BY 1, 2
    ),
    edges AS (SELECT a, b FROM shared WHERE shared >= {min_shared})
"""


def coactivity_capped_sql(min_shared: int = 3, slot_cap: int = 32) -> str:
    """DuckDB CTE prelude (``ue``/``uact``/``slot_kept``/``shared``/
    ``strong``) mirroring :func:`coactivity_weighted_capped` — splice
    into oracle SQL with ``WITH {coactivity_capped_sql()}, ...``.
    ``strong`` is the weighted capped edge list (a, b, shared)."""
    return f"""
    ue AS (
      SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
      FROM events
    ),
    uact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS act FROM ue GROUP BY 1
    ),
    slot_kept AS (
      SELECT user_id, event_type, hr FROM (
        SELECT ue.user_id, ue.event_type, ue.hr,
               row_number() OVER (PARTITION BY ue.event_type, ue.hr
                                  ORDER BY ua.act DESC, ue.user_id ASC) AS srn
        FROM ue JOIN uact ua ON ua.user_id = ue.user_id
      ) WHERE srn <= {slot_cap}
    ),
    shared AS (
      SELECT x.user_id AS a, y.user_id AS b, CAST(count(*) AS BIGINT) AS shared
      FROM slot_kept x JOIN slot_kept y
        ON x.event_type = y.event_type AND x.hr = y.hr
       AND x.user_id < y.user_id
      GROUP BY 1, 2
    ),
    strong AS (SELECT a, b, shared FROM shared WHERE shared >= {min_shared})
"""


def _packed_user_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (user_id, slot) rows with the (event_type, hour) slot
    packed into ONE long join key (guide §2.3 "narrower types" /
    "shuffle keys and metadata"): ``slot = eid * 2^32 +
    unix_seconds(hour)`` where ``eid`` is the 1-based position of the
    event type in the sorted set of distinct types. The ids come from
    one scalar aggregate (``sort_array(collect_set)``) and a
    ``posexplode``. Do not use a global ``row_number`` window here: it
    is a single-partition exchange, and the registry plan lint misses
    it in queries that checkpoint downstream. The packing is an exact
    bijection from (event_type, hr): eid < 2^20 and hour-truncated
    epoch seconds < 2^31 for any in-range timestamp, so distinct
    counts, slot partitions, and slot equi-join matches are IDENTICAL
    to the two-column form — while the distinct and the self-join
    shuffle 16-byte rows instead of string+timestamp and probe one
    long key. Measured (sf0.1, warm):
    the shared>=3 edge build 4.0 s → 2.3 s, same 137,910 edges."""
    ev = T(spark, sf_dir, "events")
    et = ev.agg(F.sort_array(F.collect_set("event_type")).alias("_types")).select(
        F.posexplode("_types").alias("_pos", "event_type")
    ).select("event_type", (F.col("_pos") + 1).alias("_eid"))
    return (
        ev.select("user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hr"))
        .join(F.broadcast(et), "event_type")
        .select(
            "user_id",
            (F.col("_eid") * F.lit(1 << 32) + F.unix_timestamp("hr")).alias("slot"),
        )
        .distinct()
    )


def coactivity_weighted_capped(
    spark: SparkSession,
    sf_dir: str,
    min_shared: int = 3,
    slot_cap: int = 32,
) -> DataFrame:
    """SLOT-BOUNDED weighted co-activity edges (a, b, shared) — the
    scale-safe constructor the capped graph family builds on (VERDICT
    r8 item 1). :func:`coactivity_edges` self-joins every (event_type,
    hour) slot's full occupancy: once the ~3,600-slot grid saturates
    (sf >= 0.1) occupancy grows linearly with sf and pair work grows
    as occupancy² — Θ(sf²), measured 36.8k → 2.82M pair candidates on
    10× data. Capping the graph AFTER that join (``cap_neighbors``)
    bounds wedge enumeration but still pays the quadratic build; this
    constructor applies the same deterministic top-m estimand ONE
    STAGE EARLIER, at the slot: each (event_type, hr) slot keeps its
    ``slot_cap`` most-active participants (rank = user's distinct-slot
    count DESC, then user_id ASC — both exact integers, fully
    deterministic), so pair work is bounded by slots · C(m, 2) ≈ 1.8M
    at m=32 REGARDLESS of sf (vs ~135M uncapped at sf1.0). At the
    driver's sf0.01 no slot exceeds 10 participants, so the capped and
    raw graphs coincide there; the cap starts biting at sf0.1 (max
    occupancy 51) — a DIFFERENT, fully-specified estimand on the
    bounded-occupancy graph, exactly like the top-16 neighbor cap one
    stage later. Plan shape: one distinct, one per-user aggregate, one
    rank window over ~3,600 bounded slot partitions, then the same
    slot equi-join — every stage linear in the input."""
    ue = _packed_user_slots(spark, sf_dir)
    act = ue.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("act")
    )
    w = Window.partitionBy("slot").orderBy(F.desc("act"), F.asc("user_id"))
    kept = (
        ue.join(act, "user_id")
        .withColumn("srn", F.row_number().over(w))
        .filter(F.col("srn") <= slot_cap)
        .select("user_id", "slot")
    )
    x = kept.select(F.col("user_id").alias("a"), "slot")
    y = kept.select(F.col("user_id").alias("b"), "slot")
    return (
        x.join(y, "slot")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def coactivity_edges(
    spark: SparkSession, sf_dir: str, min_shared: int = 2
) -> DataFrame:
    ue = _packed_user_slots(spark, sf_dir)
    x = ue.select(F.col("user_id").alias("a"), "slot")
    y = ue.select(F.col("user_id").alias("b"), "slot")
    return (
        x.join(y, "slot")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= min_shared)
        .select("a", "b")
    )
