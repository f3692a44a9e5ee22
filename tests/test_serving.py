"""Serving-plane API (SURVEY §3.2/§3.3; reference app/app.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.serving.api import (
    DraftBoard,
    apply_filters,
    latest_percentiles,
    pick_probabilities,
    rankings_scan,
    team_aggregates,
    undrafted_pool,
    with_draft_status,
)

ROWS = [
    # id, rank, name, team, pos, value, adp, min/max, status, ab, avg, ip, era, whip, r, hr, rbi, sb, k, w, sv
    ("1", 1, "Mike Trout", "LAA", "OF,UT", 40.0, 2.0, 1, 4, "Starter",
     550.0, 0.300, None, None, None, 100.0, 35.0, 90.0, 10.0, None, None, None),
    ("2", 2, "Shohei Ohtani", "LAD", "UT", 38.0, 1.5, 1, 3, "Starter",
     600.0, 0.280, None, None, None, 110.0, 44.0, 95.0, 20.0, None, None, None),
    ("3", 3, "Jose Ramirez", "CLE", "3B", 35.0, 4.0, 2, 9, "Starter",
     580.0, 0.270, None, None, None, 95.0, 30.0, 100.0, 30.0, None, None, None),
    ("4", 4, "Gerrit Cole", "NYY", "SP", 30.0, 10.0, 5, 18, "IL",
     None, None, 180.0, 3.20, 1.05, None, None, None, None, 200.0, 14.0, 0.0),
    ("5", 5, "Emmanuel Clase", "CLE", "RP", 20.0, 40.0, 30, 55, "Starter",
     None, None, 70.0, 2.50, 0.95, None, None, None, None, 75.0, 4.0, 42.0),
]
SCHEMA = (
    "id string, rank int, name string, team string, pos string, value double,"
    " adp double, min_pick int, max_pick int, projected_opening_day_status string,"
    " ab double, avg double, ip double, era double, whip double,"
    " r double, hr double, rbi double, sb double, k double, w double, sv double"
)


@pytest.fixture(scope="module")
def board_df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_rankings_scan_projects_and_orders(board_df):
    out = rankings_scan(board_df)
    assert out.columns[0] == "id"
    assert "pos" in out.columns
    ranks = [r["rank"] for r in out.collect()]
    assert ranks == sorted(ranks)


def test_filters(board_df):
    assert apply_filters(board_df, search="trout").count() == 1
    # any-of positions over the comma-split eligibility string
    got = {r["id"] for r in apply_filters(board_df, positions=["UT"]).collect()}
    assert got == {"1", "2"}
    got = {r["id"] for r in apply_filters(board_df, teams=["CLE"]).collect()}
    assert got == {"3", "5"}
    assert apply_filters(board_df, statuses=["IL"]).count() == 1
    assert apply_filters(board_df, require_adp=True).count() == 5


def test_team_aggregates_ratio_of_sums(board_df):
    r = team_aggregates(board_df).collect()[0]
    # AVG = sum(ab*avg)/sum(ab), not mean of avgs
    expect_avg = (550 * 0.300 + 600 * 0.280 + 580 * 0.270) / (550 + 600 + 580)
    assert r["avg"] == pytest.approx(expect_avg)
    # ERA = ip-weighted
    expect_era = (180 * 3.20 + 70 * 2.50) / 250
    assert r["era"] == pytest.approx(expect_era)
    assert r["hr"] == pytest.approx(35 + 44 + 30)
    assert r["sv"] == pytest.approx(42.0)


def test_latest_percentiles_picks_max_year(spark):
    pct = spark.createDataFrame(
        [
            ("NFBC OC 2024 Overall Standings.csv", "R", 900.0, 950.0),
            ("NFBC OC 2025 Overall Standings.csv", "R", 910.0, 960.0),
            ("NFBC 50s 2025 Overall Standings.csv", "R", 800.0, 850.0),
        ],
        "_filename string, category string, p80 double, p90 double",
    )
    got = latest_percentiles(pct, "OC").collect()
    assert len(got) == 1 and got[0]["p80"] == 910.0


def test_pick_probabilities_piecewise(board_df):
    out = {r["id"]: r["pick_prob"] for r in
           pick_probabilities(board_df, current_pick=5).collect()}
    assert sum(out.values()) == pytest.approx(1.0)
    # raw weights: replicate the reference's piecewise in python
    def raw(adp, mn, mx, pick=5.0):
        std = max((mx - mn) / 3, 3)
        base = math.exp(-0.5 * ((pick - adp) / std) ** 2)
        if pick < mn:
            return base * 0.1 if mn - pick <= 2 else 0.0001
        if pick > mx:
            return base * (1 + (pick - mx) * 2) * 10
        if pick >= mx - 2:
            return base * (1 + (2 - (mx - pick)) * 0.5)
        return base
    raws = {r[0]: raw(r[6], r[7], r[8]) for r in ROWS}
    total = sum(raws.values())
    for pid, p in out.items():
        assert p == pytest.approx(raws[pid] / total, rel=1e-9)


def test_draft_board_semi_join(board_df):
    board = DraftBoard()
    board.put("1", "Mike Trout", my_team=True)
    board.put("4", "Gerrit Cole")
    flagged = {r["id"]: (r["drafted"], r["my_team"])
               for r in with_draft_status(board_df, board).collect()}
    assert flagged["1"] == (True, True)
    assert flagged["4"] == (True, False)
    assert flagged["2"] == (False, False)
    assert {r["id"] for r in undrafted_pool(board_df, board).collect()} == {"2", "3", "5"}
    board.delete("4")
    assert undrafted_pool(board_df, board).count() == 4
    assert board.get("1")["player_name"] == "Mike Trout"
    assert len(board.scan()) == 1


def test_durable_draft_board_survives_restart(spark, board_df, tmp_path):
    """S10 persistence parity: the reference's DynamoDB table outlives
    the process (app/app.py:119-137); a second DurableDraftBoard over
    the same path must see prior drafted state, and the serving
    semi-joins must read through it."""
    from dbt_lakehouse_aws_spark.serving.api import DurableDraftBoard

    path = str(tmp_path / "draft_board")
    b1 = DurableDraftBoard(spark, path)
    b1.put("1", "Mike Trout", my_team=True)
    b1.put("4", "Gerrit Cole")
    b1.put("4", "Gerrit Cole", my_team=True)  # upsert, not duplicate

    # "restart": a fresh instance over the same path
    b2 = DurableDraftBoard(spark, path)
    assert sorted(b2.drafted_ids()) == ["1", "4"]
    assert sorted(b2.my_team_ids()) == ["1", "4"]
    assert b2.get("1")["player_name"] == "Mike Trout"
    assert b2.get("9") is None
    assert len(b2.scan()) == 2

    flagged = {r["id"]: (r["drafted"], r["my_team"])
               for r in with_draft_status(board_df, b2).collect()}
    assert flagged["1"] == (True, True)
    assert flagged["4"] == (True, True)
    assert flagged["2"] == (False, False)
    assert {r["id"] for r in undrafted_pool(board_df, b2).collect()} == {"2", "3", "5"}

    b2.delete("4")
    b3 = DurableDraftBoard(spark, path)
    assert b3.drafted_ids() == ["1"]
    # deleting a missing key (or from an empty board) is a no-op
    b3.delete("9")
    assert len(b3.scan()) == 1


def test_durable_board_delete_quotes_ids(spark, tmp_path):
    """delete() quotes an id into a Spark SQL string literal, where
    both a quote and a backslash are special: each such id deletes
    exactly its own item."""
    from dbt_lakehouse_aws_spark.serving.api import DurableDraftBoard

    board = DurableDraftBoard(spark, str(tmp_path / "draft_board"))
    ids = ["o'neil", "a\\b", "c\\", "ab"]
    for pid in ids:
        board.put(pid, pid)
    for pid in ids[:3]:
        board.delete(pid)
        ids.remove(pid)
        assert sorted(i["player_id"] for i in board.scan()) == sorted(ids)


def test_durable_board_item_frame_is_a_local_relation(spark, tmp_path):
    """A put's one-row MERGE source is an Arrow LocalRelation, not a
    pickled-row LogicalRDD that re-runs a Python worker per action."""
    from dbt_lakehouse_aws_spark.serving.api import DurableDraftBoard

    board = DurableDraftBoard(spark, str(tmp_path / "draft_board"))
    item = {
        "player_id": "1",
        "drafted": True,
        "drafted_at": "2026-03-01T00:00:00+00:00",
        "player_name": "Mike Trout",
        "drafted_to_my_team": False,
    }
    df = board._item_df(item)
    plan = df._jdf.queryExecution().logical()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert [r.asDict() for r in df.collect()] == [item]


def test_simulate_draft_deterministic_and_adp_biased(board_df):
    from dbt_lakehouse_aws_spark.serving.api import simulate_draft

    b1 = simulate_draft(board_df, n_picks=3, seed=42)
    b2 = simulate_draft(board_df, n_picks=3, seed=42)
    assert [i["player_id"] for i in b1.scan()] == [i["player_id"] for i in b2.scan()]
    assert len(b1.drafted_ids()) == 3
    # early picks should come from the low-ADP players (adp 1.5-4.0),
    # not the adp-40 closer
    assert "5" not in set(b1.drafted_ids())


def test_cli_run_and_serve(spark, tmp_path):
    """`run` builds marts from the raw tree; `serve` queries them —
    the end-to-end user workflow (dbt build + app, SURVEY §3)."""
    from tests import sgp_fixtures
    from dbt_lakehouse_aws_spark.cli import main

    raw = tmp_path / "raw"
    marts = tmp_path / "marts"
    sgp_fixtures.gen_all(raw)
    rc = main(["run", "--raw-dir", str(raw), "--out-dir", str(marts), "--league", "oc"])
    assert rc == 0
    out = spark.read.parquet(str(marts / "oc" / "overall_rankings"))
    assert out.count() > 100
    assert {"rank", "value", "adp"} <= set(out.columns)
    rc = main(["serve", "--marts-dir", str(marts), "--league", "oc",
               "--limit", "5", "--search", "First1"])
    assert rc == 0


def test_keyset_page(spark):
    """Keyset pages are gapless, non-overlapping, and the predicate
    (not an OFFSET) selects the page."""
    from dbt_lakehouse_aws_spark.serving.api import keyset_page

    df = spark.range(1, 101).withColumnRenamed("id", "rank")
    p1 = [r["rank"] for r in keyset_page(df, after=None, page_size=10).collect()]
    assert p1 == list(range(1, 11))
    p2 = [r["rank"] for r in keyset_page(df, after=p1[-1], page_size=10).collect()]
    assert p2 == list(range(11, 21))
    # pushdown: the filter reaches the scan, the limit is a heap
    plan = keyset_page(df, after=90, page_size=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
