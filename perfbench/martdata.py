"""Seeded generator for the two marts the serving workload reads.

Writes ``overall_rankings`` and ``sgp_percentiles`` as parquet with the
columns, types and shapes of the marts the SGP build writes: one row per
player of a league-sized board (200 hitters, 130 pitchers), ranked
1..n by descending value, hitting stats null for pitchers and pitching
stats null for hitters, ADP with its pick range on most rows, and one
percentile row per (standings file, category). Names follow the
fixture tree's ``Last<id>, First<id>`` pattern, so the serving
searches for ``last10`` … ``last20`` hit a few dozen rows each.

The serving workload measures the query surface over finished marts;
building them with the pipeline would add a cold SGP build (≈30 s on
4 cores) to every run's set-up, and that build is measured by
``sgp_build``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_HITTERS = 200
N_PITCHERS = 130
HIT_POS = ("C", "1B", "2B", "3B", "SS", "OF", "1B,OF", "2B,SS", "3B,1B", "OF,UT", "UT")
PITCH_POS = ("SP", "RP", "SP,RP")
STATUSES = ("Active", "Active", "Active", "IL10", "IL60", "Minors")
CATEGORIES = ("R", "HR", "RBI", "SB", "AVG", "K", "W", "S", "ERA", "WHIP")
FORMATS = ("OC", "50s", "ME")
HIT_STATS = ("pa", "ab", "r", "hr", "rbi", "sb", "avg", "obp")
PITCH_STATS = ("ip", "k", "w", "sv", "era", "whip")


def _masked(values: np.ndarray, keep: np.ndarray, kind=pa.float64()) -> pa.Array:
    return pa.array(values, kind, mask=~keep)


def _rankings(rng) -> pa.Table:
    n = N_HITTERS + N_PITCHERS
    ids = [str(1001 + i) for i in range(N_HITTERS)] + [str(2001 + i) for i in range(N_PITCHERS)]
    hitter = np.arange(n) < N_HITTERS
    value = np.round(rng.gamma(2.0, 9.0, n) - 5.0, 4)
    # a hitter on top, so any top-k cut has hitting totals
    value[int(np.argmax(np.where(hitter, value, -np.inf)))] = value.max() + 1.0
    order = np.lexsort((np.array(ids), -value))
    rank = np.empty(n, np.int64)
    rank[order] = np.arange(1, n + 1)

    has_adp = rng.random(n) < 0.85
    adp = np.round(np.clip(rank + rng.normal(0.0, 12.0, n), 1.0, None), 2)
    spread = rng.integers(3, 40, n)
    min_pick = np.maximum(1, np.floor(adp) - spread).astype(np.int32)
    max_pick = (np.ceil(adp) + spread).astype(np.int32)

    pa_ = rng.integers(350, 700, n).astype(float)
    ab = np.floor(pa_ * 0.9)
    ip = np.round(rng.uniform(40.0, 200.0, n), 1)
    hit_vals = {
        "pa": pa_, "ab": ab,
        "r": np.round(pa_ * rng.uniform(0.08, 0.17, n)),
        "hr": np.round(pa_ * rng.uniform(0.01, 0.07, n)),
        "rbi": np.round(pa_ * rng.uniform(0.08, 0.18, n)),
        "sb": np.round(pa_ * rng.uniform(0.0, 0.05, n)),
        "avg": np.round(rng.uniform(0.21, 0.32, n), 3),
        "obp": np.round(rng.uniform(0.28, 0.40, n), 3),
    }
    pitch_vals = {
        "ip": ip,
        "k": np.round(ip * rng.uniform(0.7, 1.3, n)),
        "w": np.round(ip * rng.uniform(0.02, 0.08, n)),
        "sv": np.where(rng.random(n) < 0.3, rng.integers(0, 40, n), 0).astype(float),
        "era": np.round(rng.uniform(2.4, 5.2, n), 2),
        "whip": np.round(rng.uniform(0.95, 1.45, n), 2),
    }
    pos = [HIT_POS[i % len(HIT_POS)] if h else PITCH_POS[i % len(PITCH_POS)]
           for i, h in enumerate(hitter)]
    cols = {
        "rank": pa.array(rank),
        "id": pa.array(ids),
        "name": pa.array([f"{'Last' if h else 'Plast'}{i}, {'First' if h else 'Pfirst'}{i}"
                          for i, h in zip(ids, hitter)]),
        "team": pa.array([f"T{i % 30:02d}" for i in range(n)]),
        "pos": pa.array(pos),
        "position": pa.array([p.split(",")[0] for p in pos]),
        "pos_group": pa.array(["H" if h else "P" for h in hitter]),
        **{c: _masked(v, hitter) for c, v in hit_vals.items()},
        **{c: _masked(v, ~hitter) for c, v in pitch_vals.items()},
        "sgp": pa.array(np.round(value / 2.0 + 3.0, 4)),
        "value": pa.array(value),
        "adp": _masked(adp, has_adp),
        "min_pick": _masked(min_pick, has_adp, pa.int32()),
        "max_pick": _masked(max_pick, has_adp, pa.int32()),
        "rank_diff": _masked(adp - rank, has_adp),
        "projected_opening_day_status": pa.array(
            [STATUSES[k] for k in rng.integers(0, len(STATUSES), n)]),
    }
    return pa.table(cols).take(pa.array(order))


def _percentiles(rng) -> pa.Table:
    rows = {"_filename": [], "category": [], "p80": [], "p90": []}
    for fmt in FORMATS:
        for year in range(2021, 2026):
            for cat in CATEGORIES:
                p80 = float(np.round(rng.uniform(1.0, 1000.0), 3))
                rows["_filename"].append(f"NFBC {fmt} {year} Overall Standings.csv")
                rows["category"].append(cat)
                rows["p80"].append(p80)
                rows["p90"].append(float(np.round(p80 * rng.uniform(1.01, 1.2), 3)))
    return pa.table(rows)


def write(root: str, seed: int) -> dict[str, str]:
    """Write both marts under ``root``; returns mart name → path."""
    paths = {}
    for i, (name, build) in enumerate((("overall_rankings", _rankings),
                                       ("sgp_percentiles", _percentiles))):
        d = os.path.join(root, name)
        os.makedirs(d)
        pq.write_table(build(np.random.default_rng([seed, i])),
                       os.path.join(d, "part-00000.parquet"))
        paths[name] = d
    return paths
