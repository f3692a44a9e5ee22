"""Full SGP pipeline DAG: raw sources → mart rankings.

Mirrors the reference's dbt lineage (SURVEY §3.1), including the
cross-layer back-reference where stage valuation models read the
mart factor table (stg_proj_preseason_hitting_sgp_oc.sql:39) — the
topological sort handles it exactly as dbt does.

``build_pipeline`` wires one :class:`ModelGraph` per league format
from seven raw source DataFrames (already source-filtered, i.e.
latest-snapshot applied where the reference applies it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dbt_lakehouse_aws_spark.plans.graph import ModelGraph
from dbt_lakehouse_aws_spark.sgp import models as M
from dbt_lakehouse_aws_spark.sgp.config import LeagueConfig


def build_pipeline(cfg: LeagueConfig, sources: dict[str, DataFrame]) -> ModelGraph:
    """Assemble the DAG for one league format.

    ``sources`` keys (reference src_* models, post snapshot filter):
    standings (full history), players, id_map, fg_hitting,
    fg_pitching, razzball_hitting, razzball_pitching, adp (latest per
    file), rosters.
    """
    g = ModelGraph()
    for name, df in sources.items():
        g.add_source(name, df)

    # mapping
    g.model(lambda players, id_map: M.stg_player_id_map(players, id_map), name="player_ids")

    # standings → factors
    g.model(lambda standings: M.stg_ranked_standings(standings), name="ranked_standings")
    g.model(lambda ranked_standings: M.stg_sgp_inputs(ranked_standings), name="sgp_inputs")
    g.model(lambda sgp_inputs: M.stg_sgp_factors(sgp_inputs), name="sgp_factors")
    g.model(lambda sgp_factors: M.mart_sgp_factors(sgp_factors), name="factors_wide")

    # projections
    g.model(
        lambda fg_hitting, player_ids: M.stg_fg_hitting_per_pa(fg_hitting, player_ids),
        name="fg_hit_per_pa",
    )
    g.model(
        lambda razzball_hitting, player_ids: M.stg_razzball_hitting_per_pa(
            razzball_hitting, player_ids
        ),
        name="rz_hit_per_pa",
    )
    g.model(
        lambda fg_pitching, player_ids: M.stg_fg_pitching_per_ip(fg_pitching, player_ids),
        name="fg_pitch_per_ip",
    )
    g.model(
        lambda razzball_pitching, player_ids: M.stg_razzball_pitching_per_ip(
            razzball_pitching, player_ids
        ),
        name="rz_pitch_per_ip",
    )
    g.model(lambda fg_hit_per_pa: M.stg_hitting_skills(fg_hit_per_pa, cfg), name="hit_skills")
    g.model(
        lambda fg_pitch_per_ip: M.stg_pitching_skills(fg_pitch_per_ip, cfg),
        name="pitch_skills",
    )
    g.model(
        lambda fg_hit_per_pa, rz_hit_per_pa: M.stg_playing_time(
            fg_hit_per_pa, rz_hit_per_pa, cfg, denom="pa"
        ),
        name="hit_pt",
    )
    g.model(
        lambda fg_pitch_per_ip, rz_pitch_per_ip: M.stg_playing_time(
            fg_pitch_per_ip, rz_pitch_per_ip, cfg, denom="ip"
        ),
        name="pitch_pt",
    )
    g.model(lambda hit_pt, hit_skills: M.stg_hitting_agg(hit_pt, hit_skills), name="hit_agg")
    g.model(
        lambda pitch_pt, pitch_skills: M.stg_pitching_agg(pitch_pt, pitch_skills, cfg),
        name="pitch_agg",
    )

    # scoring → replacement → values (stage reads mart: the DAG's back-reference)
    g.model(
        lambda hit_agg, player_ids, factors_wide: M.stg_hitting_sgp(
            hit_agg, player_ids, factors_wide, cfg
        ),
        name="hit_sgp",
    )
    g.model(
        lambda pitch_agg, player_ids, factors_wide: M.stg_pitching_sgp(
            pitch_agg, player_ids, factors_wide, cfg
        ),
        name="pitch_sgp",
    )
    g.model(lambda hit_sgp: M.stg_hitting_rep_lvl(hit_sgp, cfg), name="hit_rep_lvl")
    g.model(lambda pitch_sgp: M.stg_pitching_rep_lvl(pitch_sgp, cfg), name="pitch_rep_lvl")
    g.model(
        lambda hit_sgp, hit_rep_lvl: M.stg_hitting_values(hit_sgp, hit_rep_lvl, cfg),
        name="hit_values",
    )
    g.model(
        lambda pitch_sgp, pitch_rep_lvl: M.stg_pitching_values(pitch_sgp, pitch_rep_lvl, cfg),
        name="pitch_values",
    )

    # final mart
    g.model(
        lambda hit_values, pitch_values, adp, rosters, player_ids: M.mart_overall_rankings(
            hit_values, pitch_values, adp, rosters, player_ids, cfg
        ),
        name="overall_rankings",
    )
    # standalone percentile mart (app §3.3 query surface)
    g.model(lambda standings: M.mart_sgp_percentiles(standings), name="sgp_percentiles")
    return g


def run_pipeline(cfg: LeagueConfig, sources: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Build and run the SGP DAG; shared models are localCheckpointed
    and the rest stay lazy (the one policy of :meth:`ModelGraph.run`)."""
    return build_pipeline(cfg, sources).run()
