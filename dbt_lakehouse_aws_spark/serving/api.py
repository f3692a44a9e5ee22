"""Serving-plane query surface (SURVEY §3.2/§3.3, reference app/app.py).

The reference serves one column-projected ordered scan per session,
then does every interactive operation client-side in pandas. Here
each of those pandas operations is a composable Spark expression, so
the same predicates run engine-side (pushed down to the scan) when
the frame is too big to collect — the serving API is scale-neutral.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.localframe import local_frame

#: the 26-column serving projection (app/app.py:419-426)
RANKINGS_COLUMNS = (
    "id", "rank", "name", "team", "pos", "position", "value", "adp",
    "min_pick", "max_pick", "rank_diff", "projected_opening_day_status",
    "pa", "ab", "r", "hr", "rbi", "sb", "avg", "obp",
    "ip", "k", "w", "sv", "era", "whip",
)


def rankings_scan(mart: DataFrame, columns: Sequence[str] = RANKINGS_COLUMNS) -> DataFrame:
    """S9: explicit column projection + ORDER BY rank
    (app/app.py:417-430). The projection prunes the parquet scan;
    the sort is the serve-time ordering contract (stored tables have
    no guaranteed order — SURVEY §7.5 item 3)."""
    cols = [c for c in columns if c in mart.columns]
    return mart.select(*cols).orderBy("rank")


def apply_filters(
    df: DataFrame,
    *,
    search: str | None = None,
    positions: Sequence[str] | None = None,
    teams: Sequence[str] | None = None,
    statuses: Sequence[str] | None = None,
    require_adp: bool = False,
) -> DataFrame:
    """Interactive filter stack (P9-P11; app/app.py:596-625, 723-728).

    * search — case-insensitive substring on name
    * positions — any-of against the comma-separated eligibility
      string (``arrays_overlap`` over ``split(pos, ',')``)
    * teams / statuses — IN-list membership
    * require_adp — non-null adp/min_pick/max_pick (mock-draft pool)
    """
    if search:
        df = df.filter(F.lower(F.col("name")).contains(search.lower()))
    if positions:
        df = df.filter(
            F.arrays_overlap(
                F.split(F.col("pos"), ","), F.array(*[F.lit(p) for p in positions])
            )
        )
    if teams:
        df = df.filter(F.col("team").isin(list(teams)))
    if statuses:
        df = df.filter(F.col("projected_opening_day_status").isin(list(statuses)))
    if require_adp:
        df = df.filter(
            F.col("adp").isNotNull()
            & F.col("min_pick").isNotNull()
            & F.col("max_pick").isNotNull()
        )
    return df


def team_aggregates(df: DataFrame, group_cols: Sequence[str] = ()) -> DataFrame:
    """A10: roster-level category totals (app/app.py:909-937).

    Counting stats sum; AVG re-derives as ratio-of-sums
    Σ(ab·avg)/Σab; ERA/WHIP are IP-weighted means Σ(stat·ip)/Σip.
    All partial+final hash aggregates — never a collect.
    """
    z = lambda c: F.coalesce(F.col(c), F.lit(0.0))  # noqa: E731 — app fillna(0)
    aggs = [
        F.sum(z("r")).alias("r"),
        F.sum(z("hr")).alias("hr"),
        F.sum(z("rbi")).alias("rbi"),
        F.sum(z("sb")).alias("sb"),
        F.sum(z("k")).alias("k"),
        F.sum(z("w")).alias("w"),
        F.sum(z("sv")).alias("sv"),
        (F.sum(z("ab") * z("avg")) / F.sum(z("ab"))).alias("avg"),
        (F.sum(z("era") * z("ip")) / F.sum(z("ip"))).alias("era"),
        (F.sum(z("whip") * z("ip")) / F.sum(z("ip"))).alias("whip"),
    ]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)


def latest_percentiles(percentiles: DataFrame, format_type: str) -> DataFrame:
    """§3.3 ad-hoc percentile query (app/app.py:868-890): parse
    league format and year out of ``_filename`` (``split_part``),
    keep the requested format's max year via the correlated-shape
    scalar max, return (category, p80, p90)."""
    parts = percentiles.withColumns(
        {
            "format_part": F.split_part(F.col("_filename"), F.lit(" "), F.lit(2)),
            "year_part": F.split_part(F.col("_filename"), F.lit(" "), F.lit(3)).cast("int"),
        }
    ).filter(F.col("format_part") == format_type)
    max_year = parts.agg(F.max("year_part").alias("year_part"))
    return (
        parts.join(F.broadcast(max_year), "year_part")
        .select("category", "p80", "p90")
    )


def pick_probabilities(
    df: DataFrame, *, current_pick: int, out: str = "pick_prob"
) -> DataFrame:
    """Mock-draft pick-probability model (app/app.py:738-799) as
    vectorized column expressions (SURVEY §2.10).

    Gaussian centered on ADP with σ = max(range/3, 3), then the
    urgency piecewise: far-before-min ≈ 0, within-2-of-min ×0.1,
    past-max ×10·(1+2·overdue), approaching-max ramp. Probabilities
    are normalized to sum 1 across the frame; the single weighted
    draw stays driver-side exactly as in the reference.
    """
    pick = F.lit(float(current_pick))
    std = F.greatest((F.col("max_pick") - F.col("min_pick")) / 3.0, F.lit(3.0))
    base = F.exp(-0.5 * F.pow((pick - F.col("adp")) / std, F.lit(2.0)))
    before = F.col("min_pick") - pick
    overdue = pick - F.col("max_pick")
    prob = (
        F.when((before > 0) & (before <= 2), base * 0.1)
        .when(before > 2, F.lit(0.0001))
        .when(overdue > 0, base * (1 + overdue * 2) * 10)
        .when(pick >= F.col("max_pick") - 2,
              base * (1 + (2 - (F.col("max_pick") - pick)) * 0.5))
        .otherwise(base)
    )
    scored = df.withColumn("_raw", prob)
    total = scored.agg(F.sum("_raw").alias("_total"))
    return (
        scored.crossJoin(F.broadcast(total))
        .withColumn(out, F.col("_raw") / F.col("_total"))
        .drop("_raw", "_total")
    )


# --------------------------------------------------------------------------
# draft-state store (reference: DynamoDB table, app/app.py:119-245)
# --------------------------------------------------------------------------

@dataclass
class DraftBoard:
    """In-engine stand-in for the reference's DynamoDB draft table
    (S10): put/get/delete/scan keyed on player_id, with the same
    item shape (app/app.py:151-159). Backed by a dict — the fast
    path for single-session mock drafts; :class:`DurableDraftBoard`
    is the restart-surviving variant (AcidTable MERGE on player_id),
    matching the reference table's persistence (SURVEY §2.1 S10)."""

    _items: dict[str, dict] = field(default_factory=dict)

    def put(self, player_id: str, player_name: str, *, my_team: bool = False) -> None:
        self._items[player_id] = {
            "player_id": player_id,
            "drafted": True,
            "drafted_at": datetime.now(timezone.utc).isoformat(),
            "player_name": player_name,
            "drafted_to_my_team": my_team,
        }

    def get(self, player_id: str) -> dict | None:
        return self._items.get(player_id)

    def delete(self, player_id: str) -> None:
        self._items.pop(player_id, None)

    def scan(self) -> list[dict]:
        return list(self._items.values())

    def drafted_ids(self) -> list[str]:
        return [i["player_id"] for i in self._items.values() if i["drafted"]]

    def my_team_ids(self) -> list[str]:
        return [
            i["player_id"] for i in self._items.values() if i["drafted_to_my_team"]
        ]


class DurableDraftBoard:
    """Durable draft-state store (S10): same put/get/delete/scan
    surface as :class:`DraftBoard`, persisted as an
    :class:`~dbt_lakehouse_aws_spark.sources.acid.AcidTable` keyed on
    ``player_id`` — the engine-side analogue of the reference's
    persistent DynamoDB table (app/app.py:119-137 creates the table,
    items at app/app.py:151-159, which survive process restarts;
    this class gives the same guarantee: a second instance over the
    same path sees prior drafted state).

    * ``put`` is an upsert → ``AcidTable.merge`` on ``player_id``
      (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT — DynamoDB
      PutItem semantics; the first put creates the table).
    * ``delete`` is a keyed ``AcidTable.delete`` (DeleteItem).
    * ``get``/``scan`` read the latest snapshot; the board is
      bounded by league size (reference: ~300 players), so the
      collect is a constant-size driver fetch, and concurrent
      writers are safe under the table's optimistic commits.
    """

    _SCHEMA = (
        "player_id string, drafted boolean, drafted_at string, "
        "player_name string, drafted_to_my_team boolean"
    )
    _COLUMNS = tuple(c.split()[0] for c in _SCHEMA.split(", "))

    def __init__(self, spark, path: str):
        from dbt_lakehouse_aws_spark.sources.acid import AcidTable

        self.spark = spark
        self.table = AcidTable(spark, path)

    def _item_df(self, item: dict) -> DataFrame:
        # an Arrow-backed LocalRelation, not a pickled-row RDD: the
        # MERGE's bounds check and rewrite read it without a Python
        # worker (localframe.py)
        return local_frame(
            self.spark, [tuple(item[c] for c in self._COLUMNS)], self._SCHEMA
        )

    def put(self, player_id: str, player_name: str, *, my_team: bool = False) -> None:
        item = {
            "player_id": player_id,
            "drafted": True,
            "drafted_at": datetime.now(timezone.utc).isoformat(),
            "player_name": player_name,
            "drafted_to_my_team": my_team,
        }
        self.table.merge(self._item_df(item), ["player_id"])

    def _read(self) -> DataFrame | None:
        if not self.table.exists():
            return None
        return self.table.read()

    def get(self, player_id: str) -> dict | None:
        df = self._read()
        if df is None:
            return None
        rows = df.filter(F.col("player_id") == F.lit(player_id)).collect()
        return rows[0].asDict() if rows else None

    def delete(self, player_id: str) -> None:
        if not self.table.exists():
            return
        # a Spark SQL string literal escapes with a backslash too
        quoted = player_id.replace("\\", "\\\\").replace("'", "''")
        self.table.delete(f"player_id = '{quoted}'")

    def scan(self) -> list[dict]:
        df = self._read()
        return [] if df is None else [r.asDict() for r in df.collect()]

    def drafted_ids(self) -> list[str]:
        return [i["player_id"] for i in self.scan() if i["drafted"]]

    def my_team_ids(self) -> list[str]:
        return [i["player_id"] for i in self.scan() if i["drafted_to_my_team"]]


def with_draft_status(df: DataFrame, board: DraftBoard, id_col: str = "id") -> DataFrame:
    """J9: drafted / my-team flags via broadcast membership — the
    engine-side form of the app's ``isin`` semi-join
    (app/app.py:567-569). The id sets are small (≤ league size), so
    this compiles to a broadcast ``isin`` filterless projection."""
    drafted = board.drafted_ids()
    mine = board.my_team_ids()
    return df.withColumns(
        {
            "drafted": F.col(id_col).isin(drafted) if drafted else F.lit(False),
            "my_team": F.col(id_col).isin(mine) if mine else F.lit(False),
        }
    )


def undrafted_pool(df: DataFrame, board: DraftBoard, id_col: str = "id") -> DataFrame:
    """Anti-join form for the mock-draft candidate pool."""
    drafted = board.drafted_ids()
    if not drafted:
        return df
    return df.filter(~F.col(id_col).isin(drafted))


def simulate_draft_pick(
    df: DataFrame,
    board: DraftBoard,
    *,
    current_pick: int,
    rng=None,
    id_col: str = "id",
    name_col: str = "name",
):
    """One mock-draft pick (app/app.py:715-799): filter the undrafted
    ADP pool, score pick probabilities engine-side, then make the
    single weighted draw driver-side (as the reference does — the
    draw itself is O(pool), not a distributed op).

    Returns the drafted (player_id, player_name), or None if the
    pool is empty. Pass a seeded ``numpy.random.Generator`` for
    reproducible drafts.
    """
    import numpy as np

    if rng is None:
        rng = np.random.default_rng()
    pool = apply_filters(undrafted_pool(df, board, id_col), require_adp=True)
    scored = pick_probabilities(pool, current_pick=current_pick)
    rows = scored.select(id_col, name_col, "pick_prob").collect()
    if not rows:
        return None
    probs = np.array([r["pick_prob"] for r in rows], dtype=float)
    if probs.sum() <= 0:
        return None
    probs = probs / probs.sum()
    chosen = rows[int(rng.choice(len(rows), p=probs))]
    board.put(chosen[id_col], chosen[name_col])
    return chosen[id_col], chosen[name_col]


def simulate_draft(
    df: DataFrame,
    *,
    n_picks: int,
    seed: int = 0,
    start_pick: int = 1,
    board: DraftBoard | None = None,
) -> DraftBoard:
    """Run ``n_picks`` sequential mock picks; returns the board."""
    import numpy as np

    rng = np.random.default_rng(seed)
    board = board or DraftBoard()
    for i in range(n_picks):
        if simulate_draft_pick(df, board, current_pick=start_pick + i, rng=rng) is None:
            break
    return board


def keyset_page(
    df: DataFrame,
    *,
    order_col: str = "rank",
    after: int | float | str | None = None,
    page_size: int = 500,
) -> DataFrame:
    """Keyset pagination for the serving scan: page N+1 is
    ``WHERE order_col > last_seen ORDER BY order_col LIMIT page_size``.

    OFFSET pagination re-sorts and skips ``offset`` rows on every
    page — O(total scanned) per page, quadratic across a full crawl.
    A keyset predicate pushes to the parquet scan (min/max row-group
    skipping when the table is written sorted on ``order_col``, see
    ``TableCatalog.put(sort_by=...)``) and the LIMIT compiles to
    TakeOrderedAndProject. ``order_col`` must be unique (a rank) for
    gapless pages.
    """
    out = df
    if after is not None:
        out = out.filter(F.col(order_col) > F.lit(after))
    return out.orderBy(order_col).limit(page_size)
