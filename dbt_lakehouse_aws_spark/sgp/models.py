"""SGP valuation pipeline — the reference's analytic core, Spark-first.

Every function is one model of the reference DAG (file cited in its
docstring), re-expressed as declarative DataFrame ops so Catalyst
owns the physical plan. League-format duplication in the reference
(oc/50s model pairs) collapses into :class:`~dbt_lakehouse_aws_spark.
sgp.config.LeagueConfig` parameters.

Scale design decisions (vs the reference's literal SQL):

* no join hints: the build runs in the bounded session
  (:func:`~dbt_lakehouse_aws_spark.session.bounded_session`), where
  every side of every join fits one partition and a broadcast would
  only add a Spark job per join; the planner picks each join from
  the session's conf.
* "top N overall" pools (UT/P tiers, reference ``row_number() over
  (order by sgp desc)``) run as ``orderBy().limit(n)`` —
  TakeOrderedAndProject, a per-partition heap + driver merge, not a
  shuffle-everything-to-one-task window.
* the final rank is one unpartitioned ``row_number()`` window: the
  mart holds one row per projected player the league's id map knows
  (about 1k rows), a bound set by the player pool, not by ingest
  history, so one task ranks it. Unbounded inputs keep the two-pass
  :func:`~dbt_lakehouse_aws_spark.operators.windows.global_row_number`.
* deterministic tie-breaks (player id) are added to every ranking the
  reference leaves order-ambiguous; on tie-free data results are
  identical, on ties the reference was nondeterministic anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.operators.aggregates import (
    ensemble_avg,
    percentiles,
    pivot_wide,
    regression_slope,
)
from dbt_lakehouse_aws_spark.operators.relational import null_padded_union, when_chain
from dbt_lakehouse_aws_spark.sgp.config import LeagueConfig

#: the ten roto categories in reference order (stg_nfbc_ranked_standings.sql:32-41)
CATEGORIES = ("r", "hr", "rbi", "sb", "avg", "k", "w", "s", "era", "whip")
#: categories where lower is better → rank ascending / sign-flip in percentiles
ASC_CATEGORIES = ("era", "whip")

HIT_RATE_STATS = ("ab", "h", "x1b", "x2b", "x3b", "r", "hr", "rbi", "sb", "bb", "hbp")
HIT_PASSTHRU = ("avg", "obp", "slg")
PITCH_RATE_STATS = ("er", "h", "bb", "w", "qs", "k", "sv")
PITCH_PASSTHRU = ("era", "whip", "k_per_9", "bb_per_9")


# --------------------------------------------------------------------------
# mapping layer
# --------------------------------------------------------------------------

def stg_player_id_map(players: DataFrame, id_map: DataFrame) -> DataFrame:
    """Canonical player id map (stg_mpd_player_id_map.sql:7-24).

    ``"Last, First"`` → ``"First Last"``; left-join provider ids;
    drop rows where every provider id is the empty string (the
    reference's missing-value convention is '' not NULL).
    """
    parts = F.split(F.col("players"), ", ")
    name = F.concat(F.element_at(parts, 2), F.lit(" "), F.element_at(parts, 1))
    joined = (
        players.select("id", name.alias("name"), "team", "pos")
        .join(
            id_map.select("nfbcid", "mlbid", "idfangraphs", "underdog", "razzballid", "bpid"),
            players["id"] == id_map["nfbcid"],
            "left",
        )
        .drop("nfbcid")
    )
    any_id = (
        (F.col("mlbid") != "")
        | (F.col("idfangraphs") != "")
        | (F.col("underdog") != "")
        | (F.col("razzballid") != "")
        | (F.col("bpid") != "")
    )
    return joined.filter(any_id).distinct()


# --------------------------------------------------------------------------
# standings → SGP factors
# --------------------------------------------------------------------------

def stg_ranked_standings(standings: DataFrame) -> DataFrame:
    """Typed standings + per-category rank windows (W2;
    stg_nfbc_ranked_standings.sql:7-41).

    Ten ``row_number`` windows share ONE partitioning
    (_filename, league) → Catalyst plans a single Exchange and one
    Sort per distinct ordering; ERA/WHIP rank ascending
    (lower-is-better).
    """
    casts = {
        "points": "double", "r": "int", "hr": "int", "rbi": "int", "sb": "int",
        "ab": "int", "h": "int", "k": "int", "w": "int", "s": "int",
        "ip": "double", "er": "int", "bb": "int", "ha": "int",
        "avg": "double", "era": "double", "whip": "double",
    }
    out = standings.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})
    part = Window.partitionBy("_filename", "league")
    for cat in CATEGORIES:
        direction = F.asc(cat) if cat in ASC_CATEGORIES else F.desc(cat)
        out = out.withColumn(
            f"rank_{cat}", F.row_number().over(part.orderBy(direction, F.asc("team")))
        )
    return out


def stg_sgp_inputs(ranked: DataFrame) -> DataFrame:
    """Rank-windowed category means with points remap (U2 + A4;
    stg_nfbc_sgp_inputs.sql:7-49).

    The reference's 10-branch ``union all`` (10 table re-reads)
    becomes one ``stack()`` expansion in a single scan projection.
    15-team files (``NFBC ME%``/``NFBC DC%``) keep ranks 4-12 with
    points = 16 − rank; 12-team files keep 3-10 with 13 − rank.
    """
    stack_args = []
    for cat in CATEGORIES:
        stack_args.append(f"'{cat.upper()}'")
        stack_args.append(f"rank_{cat}")
        stack_args.append(f"cast({cat} as double)")
    long = ranked.select(
        "_filename",
        "league",
        F.expr(f"stack({len(CATEGORIES)}, {', '.join(stack_args)}) as (category, rank, value)"),
    )
    is_15team = F.col("_filename").like("NFBC ME%") | F.col("_filename").like("NFBC DC%")
    filtered = long.filter(
        (is_15team & F.col("rank").between(4, 12))
        | (~is_15team & F.col("rank").between(3, 10))
    )
    agg = filtered.groupBy("_filename", "category", "rank").agg(
        F.avg("value").alias("value")
    )
    points = F.when(is_15team, 16 - F.col("rank")).otherwise(13 - F.col("rank"))
    return agg.select("_filename", "category", "rank", points.alias("points"), "value")


def stg_sgp_factors(inputs: DataFrame) -> DataFrame:
    """Least-squares slope of category value vs points (A3;
    stg_nfbc_sgp_factors.sql:7-30) via one-pass sufficient stats."""
    return regression_slope(
        inputs, ["_filename", "category"], "points", "value", name="sgp_value"
    )


def mart_sgp_factors(factors: DataFrame) -> DataFrame:
    """Long → wide factor pivot (A7; mart_sgp_factors.sql:7-19)."""
    return pivot_wide(
        factors, ["_filename"], "category", [c.upper() for c in CATEGORIES],
        "sgp_value", agg="max", prefix="sgp_",
    ).select(
        "_filename", *[F.col(f"sgp_{c.upper()}").alias(f"sgp_{c}") for c in CATEGORIES]
    )


def mart_sgp_percentiles(standings: DataFrame) -> DataFrame:
    """p80/p90 per (file, category) with lower-is-better sign flip
    (A8; mart_sgp_percentiles.sql:7-34)."""
    stack_args = []
    for cat in CATEGORIES:
        flip = " * -1" if cat in ASC_CATEGORIES else ""
        stack_args.append(f"'{cat.upper()}'")
        stack_args.append(f"cast({cat} as double){flip}")
    long = standings.select(
        "_filename",
        F.expr(f"stack({len(CATEGORIES)}, {', '.join(stack_args)}) as (category, val)"),
    )
    pct = percentiles(long, ["_filename", "category"], "val", [0.8, 0.9])
    unflip = F.col("category").isin([c.upper() for c in ASC_CATEGORIES])
    return pct.select(
        "_filename",
        "category",
        F.when(unflip, F.col("p80") * -1).otherwise(F.col("p80")).alias("p80"),
        F.when(unflip, F.col("p90") * -1).otherwise(F.col("p90")).alias("p90"),
    )


# --------------------------------------------------------------------------
# projections: per-rate normalization → ensemble → re-expansion
# --------------------------------------------------------------------------

def _per_rate(
    proj: DataFrame,
    ids: DataFrame,
    *,
    join_left: str,
    join_right: str,
    filename_suffix: str,
    rate_denom: str,
    rate_stats: tuple[str, ...],
    passthru: tuple[str, ...],
    rename: dict[str, str] | None = None,
    derived: dict[str, object] | None = None,
) -> DataFrame:
    """Shared shape of the four per-PA / per-IP stage models
    (stg_fg_proj_preseason_hitting_per_pa.sql:7-28 and siblings):
    join to the id map, divide counting stats by playing
    time, pass rate stats through."""
    rename = rename or {}
    denom = F.col(rate_denom).cast("double")
    cols = [
        ids["id"], ids["name"], ids["team"],
        F.replace(F.col("_filename"), F.lit(filename_suffix), F.lit("")).alias("proj_system"),
        denom.alias(rate_denom),
    ]
    for c in rate_stats:
        src = rename.get(c, c)
        cols.append((F.col(src).cast("double") / denom).alias(c))
    for c in passthru:
        if derived and c in derived:
            cols.append(derived[c].alias(c))
        else:
            cols.append(F.col(c).cast("double").alias(c))
    return proj.join(ids, proj[join_left] == ids[join_right], "inner").select(*cols)


def stg_fg_hitting_per_pa(proj: DataFrame, ids: DataFrame) -> DataFrame:
    """stg_fg_proj_preseason_hitting_per_pa.sql:7-28."""
    return _per_rate(
        proj, ids, join_left="playerid", join_right="idfangraphs",
        filename_suffix="-hit.csv", rate_denom="pa",
        rate_stats=HIT_RATE_STATS, passthru=HIT_PASSTHRU,
    )


def stg_razzball_hitting_per_pa(proj: DataFrame, ids: DataFrame) -> DataFrame:
    """stg_razzball_proj_preseason_hitting_per_pa.sql (razzid key)."""
    return _per_rate(
        proj, ids, join_left="razzid", join_right="razzballid",
        filename_suffix="-hit.csv", rate_denom="pa",
        rate_stats=HIT_RATE_STATS, passthru=HIT_PASSTHRU,
    )


def stg_fg_pitching_per_ip(proj: DataFrame, ids: DataFrame) -> DataFrame:
    """stg_fg_proj_preseason_pitching_per_ip.sql:7-25 (k from so)."""
    return _per_rate(
        proj, ids, join_left="playerid", join_right="idfangraphs",
        filename_suffix="-pitch.csv", rate_denom="ip",
        rate_stats=PITCH_RATE_STATS, passthru=PITCH_PASSTHRU,
        rename={"k": "so"},
    )


def stg_razzball_pitching_per_ip(proj: DataFrame, ids: DataFrame) -> DataFrame:
    """stg_razzball_proj_preseason_pitching_per_ip.sql (k column
    native; k_per_9/bb_per_9 derived ×9 at :21-22)."""
    ip = F.col("ip").cast("double")
    return _per_rate(
        proj, ids, join_left="razzid", join_right="razzballid",
        filename_suffix="-pitch.csv", rate_denom="ip",
        rate_stats=PITCH_RATE_STATS, passthru=PITCH_PASSTHRU,
        derived={
            "k_per_9": (F.col("k").cast("double") / ip) * 9,
            "bb_per_9": (F.col("bb").cast("double") / ip) * 9,
        },
    )


def stg_hitting_skills(per_pa: DataFrame, cfg: LeagueConfig) -> DataFrame:
    """Ensemble mean of per-PA rates (A1; …hitting_skills.sql:7-24)."""
    return ensemble_avg(
        per_pa.filter(F.col("proj_system").isin(list(cfg.hit_skill_systems))),
        ["id"], list(HIT_RATE_STATS) + list(HIT_PASSTHRU),
    )


def stg_pitching_skills(per_ip: DataFrame, cfg: LeagueConfig) -> DataFrame:
    """Ensemble mean of per-IP rates with the sv exclusion (A1+A2;
    …pitching_skills.sql:7-26)."""
    return ensemble_avg(
        per_ip.filter(F.col("proj_system").isin(list(cfg.pitch_skill_systems))),
        ["id"], list(PITCH_RATE_STATS) + list(PITCH_PASSTHRU),
        exclude={"sv": ("proj_system", cfg.sv_excluded_system)},
    )


def stg_playing_time(
    fg: DataFrame, razzball: DataFrame, cfg: LeagueConfig, *, denom: str
) -> DataFrame:
    """Playing-time ensemble (U1+A1; …_pt.sql:7-26): union the two
    provider frames, keep the PT systems, mean of pa/ip."""
    systems = cfg.hit_pt_systems if denom == "pa" else cfg.pitch_pt_systems
    u = fg.select("id", denom, "proj_system").unionByName(
        razzball.select("id", denom, "proj_system")
    )
    return (
        u.filter(F.col("proj_system").isin(list(systems)))
        .groupBy("id")
        .agg(F.avg(denom).alias(denom))
    )


def stg_hitting_agg(pt: DataFrame, skills: DataFrame) -> DataFrame:
    """Re-expand per-PA rates by ensemble PA (…hitting_agg.sql:7-27)."""
    pa = pt["pa"]
    return pt.join(skills, "id", "inner").select(
        "id", "pa",
        *[(F.col(c) * pa).alias(c) for c in HIT_RATE_STATS],
        *HIT_PASSTHRU,
    )


def stg_pitching_agg(pt: DataFrame, skills: DataFrame, cfg: LeagueConfig) -> DataFrame:
    """Re-expand per-IP rates by ensemble IP; hard-excluded id kept
    out for parity (…pitching_agg.sql:7-23)."""
    ip = pt["ip"]
    return (
        pt.join(skills, "id", "inner")
        .filter(~F.col("id").isin(list(cfg.excluded_pitcher_ids)))
        .select(
            "id", "ip",
            *[(F.col(c) * ip).alias(c) for c in PITCH_RATE_STATS],
            *PITCH_PASSTHRU,
        )
    )


# --------------------------------------------------------------------------
# SGP scoring → replacement level → dollar values
# --------------------------------------------------------------------------

#: ordered LIKE-chain buckets — order is load-bearing (SURVEY §7.5 item 4)
_POSITION_BUCKETS = [("%C%", "C"), ("%2B%", "2B"), ("%OF%", "OF"),
                     ("%3B%", "3B"), ("%1B%", "1B"), ("%SS%", "SS")]
_POS_GROUP_BUCKETS = [("%C%", "C"), ("%2B%", "MI"), ("%OF%", "OF"),
                      ("%3B%", "CI"), ("%1B%", "CI"), ("%SS%", "MI")]


def stg_hitting_sgp(agg: DataFrame, ids: DataFrame, factors: DataFrame, cfg: LeagueConfig) -> DataFrame:
    """Score hitters against the league's SGP factors
    (stg_proj_preseason_hitting_sgp_{oc,50s}.sql:7-72).

    The factor row is a 1-row cross join (J5); the
    marginal-AVG formula uses the league's replacement-team
    constants. Multi-position +0.25 / UT-only −0.25 (:69-71,
    UT branch checked first)."""
    base = (
        agg.join(ids.select("id", "name", "team", "pos"), "id", "inner")
        .select("id", "name", "team", "pos", "pa", *HIT_RATE_STATS, *HIT_PASSTHRU)
        .distinct()
    )
    consts = factors.filter(F.col("_filename") == cfg.standings_filename).select(
        "sgp_r", "sgp_hr", "sgp_rbi", "sgp_sb", "sgp_avg"
    )
    scored = base.crossJoin(consts)
    position = when_chain(
        [(F.col("pos").like(p), v) for p, v in _POSITION_BUCKETS], default="UT"
    )
    pos_group = when_chain(
        [(F.col("pos").like(p), v) for p, v in _POS_GROUP_BUCKETS], default="UT"
    )
    avg_sgp = (
        (F.col("h") + cfg.avg_h_base) / (F.col("ab") + cfg.avg_ab_base) - cfg.avg_rate_base
    ) / F.col("sgp_avg")
    scored = scored.withColumns(
        {
            "position": position,
            "pos_group": pos_group,
            "r_sgp": F.col("r") / F.col("sgp_r"),
            "hr_sgp": F.col("hr") / F.col("sgp_hr"),
            "rbi_sgp": F.col("rbi") / F.col("sgp_rbi"),
            "sb_sgp": F.col("sb") / F.col("sgp_sb"),
            "avg_sgp": avg_sgp,
        }
    )
    raw = F.col("r_sgp") + F.col("hr_sgp") + F.col("rbi_sgp") + F.col("sb_sgp") + F.col("avg_sgp")
    sgp = when_chain(
        [
            (F.col("pos").like("%UT%"), raw - cfg.multi_pos_bonus),
            (F.col("pos").like("%,%"), raw + cfg.multi_pos_bonus),
        ],
        default=raw,
    )
    return scored.withColumn("sgp", sgp).drop("sgp_r", "sgp_hr", "sgp_rbi", "sgp_sb", "sgp_avg")


def stg_pitching_sgp(agg: DataFrame, ids: DataFrame, factors: DataFrame, cfg: LeagueConfig) -> DataFrame:
    """Score pitchers (stg_proj_preseason_pitching_sgp_{oc,50s}.sql:
    7-52): SP/RP split on projected saves; marginal ERA/WHIP vs the
    league replacement-team constants."""
    base = (
        agg.join(ids.select("id", "name", "team", "pos"), "id", "inner")
        .select("id", "name", "team", "pos", "ip", *PITCH_RATE_STATS, *PITCH_PASSTHRU)
        .distinct()
    )
    consts = factors.filter(F.col("_filename") == cfg.standings_filename).select(
        "sgp_k", "sgp_w", "sgp_s", "sgp_era", "sgp_whip"
    )
    scored = base.crossJoin(consts)
    era_sgp = (
        ((cfg.era_er_base + F.col("er")) * 9) / (cfg.era_ip_base + F.col("ip"))
        - cfg.era_rate_base
    ) / F.col("sgp_era")
    whip_sgp = (
        (cfg.whip_hbb_base + F.col("h") + F.col("bb")) / (cfg.era_ip_base + F.col("ip"))
        - cfg.whip_rate_base
    ) / F.col("sgp_whip")
    scored = scored.withColumns(
        {
            "position": F.when(F.col("sv") > 0, "RP").otherwise("SP"),
            "k_sgp": F.col("k") / F.col("sgp_k"),
            "w_sgp": F.col("w") / F.col("sgp_w"),
            "sv_sgp": F.col("sv") / F.col("sgp_s"),
            "era_sgp": era_sgp,
            "whip_sgp": whip_sgp,
        }
    )
    sgp = (
        F.col("k_sgp") + F.col("w_sgp") + F.col("sv_sgp") + F.col("era_sgp") + F.col("whip_sgp")
    )
    return scored.withColumn("sgp", sgp).drop("sgp_k", "sgp_w", "sgp_s", "sgp_era", "sgp_whip")


def _global_top_flag(df: DataFrame, n: int) -> DataFrame:
    """Top-n overall by sgp (deterministic id tiebreak) as a
    TakeOrderedAndProject + semi-join — replaces the
    reference's unpartitioned ``row_number()`` window
    (…rep_lvl_oc.sql:27) which would funnel all rows through one
    task at scale."""
    top = df.orderBy(F.desc("sgp"), F.asc("id")).limit(n).select("id")
    return df.join(top, "id", "left_semi")


def stg_hitting_rep_lvl(sgp: DataFrame, cfg: LeagueConfig) -> DataFrame:
    """Replacement level per position via tiered draft pools (W3/W4 +
    U3 + A5/A6; stg_proj_preseason_hitting_rep_lvl_{oc,50s}.sql).

    Tier 1: top-k per position (1B/2B/3B/SS=teams, OF=teams·5,
    C=teams·2). Tier 2: next teams best MI/CI by pos_group. Tier 3:
    next teams best overall (UT). replvl = min(sgp) per position;
    synthetic UT row = max of the others (:68-71)."""
    t = cfg.teams
    pos_w = Window.partitionBy("position").orderBy(F.desc("sgp"), F.asc("id"))
    pool_size = when_chain(
        [
            (F.col("position").isin("1B", "2B", "3B", "SS"), cfg.pool_if),
            (F.col("position") == "OF", t * cfg.pool_of_mult),
            (F.col("position") == "C", t * cfg.pool_c_mult),
        ],
        default=0,
    )
    base = sgp.withColumn("_pos_rank", F.row_number().over(pos_w)).withColumn(
        "_in_pool", F.col("_pos_rank") <= pool_size
    )
    tier1 = base.filter(F.col("_in_pool"))

    remaining = base.filter(~F.col("_in_pool"))
    grp_w = Window.partitionBy("pos_group").orderBy(F.desc("sgp"), F.asc("id"))
    mi_ci = remaining.withColumn("_grp_rank", F.row_number().over(grp_w)).withColumn(
        "_in_pool2",
        F.col("pos_group").isin("MI", "CI") & (F.col("_grp_rank") <= cfg.pool_mi_ci),
    )
    tier2 = mi_ci.filter(F.col("_in_pool2"))

    rest = mi_ci.filter(~F.col("_in_pool2"))
    tier3 = _global_top_flag(rest, cfg.pool_ut)

    pool_cols = ["id", "name", "position", "sgp"]
    pool = (
        tier1.select(*pool_cols)
        .unionByName(tier2.select(*pool_cols))
        .unionByName(tier3.select(*pool_cols))
    )
    rep = (
        pool.filter(F.col("position") != "UT")
        .groupBy("position")
        .agg(F.min("sgp").alias("replvl"))
    )
    ut = rep.agg(F.max("replvl").alias("replvl")).select(
        F.lit("UT").alias("position"), "replvl"
    )
    return rep.unionByName(ut)


def stg_pitching_rep_lvl(sgp: DataFrame, cfg: LeagueConfig) -> DataFrame:
    """Pitching pools: SP=teams·6, RP=teams·2, + next teams best
    overall; min(sgp) per position
    (stg_proj_preseason_pitching_rep_lvl_{oc,50s}.sql)."""
    t = cfg.teams
    pos_w = Window.partitionBy("position").orderBy(F.desc("sgp"), F.asc("id"))
    pool_size = when_chain(
        [
            (F.col("position") == "SP", t * cfg.pool_sp_mult),
            (F.col("position") == "RP", t * cfg.pool_rp_mult),
        ],
        default=0,
    )
    base = sgp.withColumn("_pos_rank", F.row_number().over(pos_w)).withColumn(
        "_in_pool", F.col("_pos_rank") <= pool_size
    )
    tier1 = base.filter(F.col("_in_pool"))
    tier2 = _global_top_flag(base.filter(~F.col("_in_pool")), cfg.pool_p)
    pool_cols = ["id", "name", "position", "sgp"]
    pool = tier1.select(*pool_cols).unionByName(tier2.select(*pool_cols))
    return pool.groupBy("position").agg(F.min("sgp").alias("replvl"))


def _values(sgp: DataFrame, rep_lvl: DataFrame, *, budget_total: float) -> DataFrame:
    """Shared valuation shape (…values_{oc,50s}.sql): sgpar = sgp −
    replvl; $/SGP = budget / Σ positive sgpar (a 1-row cross join);
    value = sgpar·rate + 1."""
    base = sgp.join(rep_lvl, "position", "left").withColumn(
        "sgpar", F.col("sgp") - F.col("replvl")
    )
    dollars = base.filter(F.col("sgpar") > 0).agg(
        (F.lit(budget_total) / F.sum("sgpar")).alias("dollars_per_sgp")
    )
    return (
        base.crossJoin(dollars)
        .withColumn("value", F.col("sgpar") * F.col("dollars_per_sgp") + 1)
        .drop("dollars_per_sgp")
    )


def hit_budget(cfg: LeagueConfig) -> float:
    """((teams·budget·hit_share) − teams·hit_slots) — …hitting_values_*.sql:17."""
    return cfg.teams * cfg.budget * cfg.hit_budget_share - cfg.teams * cfg.hit_slots


def pitch_budget(cfg: LeagueConfig) -> float:
    """((teams·budget·pitch_share) − teams·pitch_slots) — …pitching_values_*.sql:17."""
    return cfg.teams * cfg.budget * cfg.pitch_budget_share - cfg.teams * cfg.pitch_slots


def stg_hitting_values(sgp: DataFrame, rep_lvl: DataFrame, cfg: LeagueConfig) -> DataFrame:
    return _values(sgp, rep_lvl, budget_total=hit_budget(cfg))


def stg_pitching_values(sgp: DataFrame, rep_lvl: DataFrame, cfg: LeagueConfig) -> DataFrame:
    return _values(sgp, rep_lvl, budget_total=pitch_budget(cfg))


# --------------------------------------------------------------------------
# final mart
# --------------------------------------------------------------------------

#: mart column order (mart_preseason_overall_rankings_50s.sql:7-101)
_MART_SCHEMA: dict[str, str] = {
    "id": "string", "name": "string", "team": "string", "pos": "string",
    "position": "string", "pos_group": "string",
    "pa": "double", "ab": "double", "h": "double", "x1b": "double",
    "x2b": "double", "x3b": "double", "r": "double", "hr": "double",
    "rbi": "double", "sb": "double", "bb": "double", "hbp": "double",
    "avg": "double", "obp": "double", "slg": "double",
    "ip": "double", "er": "double", "w": "double", "qs": "double",
    "k": "double", "sv": "double", "era": "double", "whip": "double",
    "k_per_9": "double",
    "r_sgp": "double", "hr_sgp": "double", "rbi_sgp": "double",
    "sb_sgp": "double", "avg_sgp": "double",
    "w_sgp": "double", "k_sgp": "double", "sv_sgp": "double",
    "era_sgp": "double", "whip_sgp": "double",
    "sgp": "double", "replvl": "double", "sgpar": "double", "value": "double",
}


def mart_overall_rankings(
    hit_values: DataFrame,
    pitch_values: DataFrame,
    adp: DataFrame,
    rosters: DataFrame,
    ids: DataFrame,
    cfg: LeagueConfig,
) -> DataFrame:
    """Final auction board (mart_preseason_overall_rankings_{50s,oc}
    .sql): NULL-padded hitters ∪ pitchers (U4), ADP left join with
    the literal-filename predicate pushed into the build side (J7),
    roster status via a pre-joined inner subframe (J8), global rank
    + rank_diff (W4/W5).

    The rank is a single-partition ``row_number()`` window because the
    mart is bounded: one row per projected player that ``ids`` maps,
    about 1k rows, however long the ingest history grows. The two-pass
    ``global_row_number`` would persist the whole valuation chain and
    range-partition it twice to rank those rows."""
    pitch = pitch_values.withColumn("pos_group", F.lit("P"))
    base = null_padded_union([hit_values, pitch], _MART_SCHEMA)

    adp_side = (
        adp.filter(F.col("_filename") == cfg.adp_filename)
        .select(
            F.col("playerid"),
            F.col("adp").cast("double").alias("adp"),
            F.col("min_pick").cast("int").alias("min_pick"),
            F.col("max_pick").cast("int").alias("max_pick"),
        )
    )
    roster_side = (
        rosters.filter(
            ~F.concat(F.col("playerid"), F.col("pos")).isin(list(cfg.excluded_roster_keys))
        )
        .join(ids.select("id", "idfangraphs"), rosters["playerid"] == ids["idfangraphs"], "inner")
        .select(F.col("id").alias("_rid"), "projected_opening_day_status")
    )

    ranked = base.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("value"), F.asc("id"))).cast("long")
    )
    out = (
        ranked.join(adp_side, ranked["id"] == adp_side["playerid"], "left")
        .drop("playerid")
        .join(roster_side, ranked["id"] == roster_side["_rid"], "left")
        .drop("_rid")
        .withColumn("rank_diff", F.col("adp") - F.col("rank"))
    )
    return out.select(
        "rank", *_MART_SCHEMA.keys(), "adp", "min_pick", "max_pick",
        "rank_diff", "projected_opening_day_status",
    ).orderBy(F.desc("value"), F.asc("id"))
