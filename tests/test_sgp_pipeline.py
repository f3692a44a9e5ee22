"""End-to-end SGP pipeline vs the independent pandas oracle
(SURVEY §5: test_sgp_pipeline / test_valuation / test_mart).

The fixture standings are constructed linear-in-points, so the
regression factors are asserted against closed-form slopes; the full
hitter/pitcher valuation and final mart are cross-checked row-by-row
against tests/sgp_oracle.py.
"""

from __future__ import annotations

import numpy as np
import pytest

from dbt_lakehouse_aws_spark.cli import MART_OUTPUTS, load_raw_sources
from dbt_lakehouse_aws_spark.sgp.config import OC
from dbt_lakehouse_aws_spark.sgp.pipeline import run_pipeline

from tests import sgp_fixtures, sgp_oracle


@pytest.fixture(scope="module")
def fixture_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("sgp_raw")
    sgp_fixtures.gen_all(root)
    return root


@pytest.fixture(scope="module")
def results(spark, fixture_root):
    sources = load_raw_sources(spark, str(fixture_root))
    # default (checkpoint) materialization — the 50s test covers "cache"
    return run_pipeline(OC, sources)


def test_latest_sources_read_only_the_newest_files(spark, fixture_root):
    players = load_raw_sources(spark, str(fixture_root))["players"]
    files = [f.split("/nfbc_players/", 1)[1] for f in players.inputFiles()]
    assert files == ["year=2025/month=3/day=10/players.csv"]


@pytest.fixture(scope="module")
def expected(fixture_root):
    src = sgp_oracle.load_sources(fixture_root)
    ids = sgp_oracle.ids_frame(src["players"], src["id_map"])
    factors = sgp_oracle.factor_table(src["standings"])
    hit = sgp_oracle.hitting_values(src, ids, factors, OC)
    pitch = sgp_oracle.pitching_values(src, ids, factors, OC)
    mart = sgp_oracle.overall_rankings(src, ids, hit, pitch, OC)
    return {"ids": ids, "factors": factors, "hit": hit, "pitch": pitch, "mart": mart}


def test_factors_closed_form(results):
    wide = results["factors_wide"].toPandas().set_index("_filename")
    oc = wide.loc[OC.standings_filename]
    for cat, slope in sgp_fixtures.SLOPES.items():
        assert oc[f"sgp_{cat}"] == pytest.approx(slope, rel=1e-9), cat


def test_factors_match_oracle(results, expected):
    got = results["factors_wide"].toPandas().sort_values("_filename").reset_index(drop=True)
    want = expected["factors"].sort_values("_filename").reset_index(drop=True)
    assert list(got["_filename"]) == list(want["_filename"])
    for c in [c for c in want.columns if c.startswith("sgp_")]:
        assert np.allclose(got[c], want[c], rtol=1e-9), c


def test_player_id_map(results, expected):
    got = results["player_ids"].toPandas()
    want = expected["ids"]
    assert len(got) == len(want)
    g1 = got.set_index("id")["name"].to_dict()
    assert g1["1001"] == "First1001 Last1001"
    # all-empty-id players are dropped
    dropped = {str(i) for i in range(1001, 1201) if i % 23 == 0}
    assert dropped.isdisjoint(set(got["id"]))


@pytest.mark.parametrize("side", ["hit", "pitch"])
def test_values_match_oracle(results, expected, side):
    got = results[f"{side}_values"].toPandas().set_index("id").sort_index()
    want = expected[side].set_index("id").sort_index()
    assert set(got.index) == set(want.index)
    want = want.loc[got.index]
    for col in ("sgp", "replvl", "sgpar", "value"):
        assert np.allclose(got[col], want[col], rtol=1e-9, atol=1e-12), col
    assert (got["position"] == want["position"]).all()


def test_excluded_pitcher_absent(results):
    ids = {r["id"] for r in results["pitch_values"].select("id").collect()}
    assert "9810" not in ids


def test_mart_matches_oracle(results, expected):
    got = results["overall_rankings"].toPandas()
    want = expected["mart"]
    assert len(got) == len(want)
    g = got.set_index("id").sort_index()
    w = want.set_index("id").sort_index()
    assert (g["rank"] == w["rank"]).all()
    assert np.allclose(g["value"], w["value"], rtol=1e-9)
    # adp + rank_diff with NULLs preserved
    assert g["adp"].isna().equals(w["adp"].isna())
    mask = ~g["adp"].isna()
    assert np.allclose(g.loc[mask, "rank_diff"], w.loc[mask, "rank_diff"], rtol=1e-9)
    # roster status incl. the 19755SP hard exclusion → RP row survives
    assert g.loc["2003", "projected_opening_day_status"] == "Bench"
    s1, s2 = (
        g["projected_opening_day_status"].fillna("<N>"),
        w["projected_opening_day_status"].fillna("<N>"),
    )
    assert (s1 == s2).all()


def test_mart_rank_is_dense_and_value_ordered(results):
    got = results["overall_rankings"].toPandas().sort_values("rank")
    assert list(got["rank"]) == list(range(1, len(got) + 1))
    assert (got["value"].diff().dropna() <= 1e-12).all()


def test_mart_caches_nothing_and_needs_no_range_exchange(results):
    """The ~1k-row mart ranks in one window: nothing is persisted
    behind it and the final ``orderBy`` reuses the window's order."""
    qe = results["overall_rankings"]._jdf.queryExecution()
    assert "InMemoryRelation" not in qe.withCachedData().toString()
    assert "rangepartitioning" not in qe.executedPlan().toString()


def test_repeated_build_reuses_generated_code(spark, fixture_root, results):
    """A second oc build compiles few classes: the build runs
    interpreted in the bounded session (a warm build compiles none,
    see the next test), and a build with whole-stage code would find
    its ~290 classes in the codegen cache."""
    source = spark._jvm.org.apache.spark.metrics.source
    metrics = getattr(getattr(source, "CodegenMetrics$"), "MODULE$")
    for mart in MART_OUTPUTS:
        results[mart].collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    marts = run_pipeline(OC, load_raw_sources(spark, str(fixture_root)))
    for mart in MART_OUTPUTS:
        marts[mart].collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before < 50


def _node_names(plan) -> list[str]:
    """Names of every node of a physical plan, inner plans included."""
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        for kids in (node.children(), node.innerChildren()):
            todo += [kids.apply(i) for i in range(kids.size())]
    return names


def test_build_runs_interpreted_in_three_jobs(spark, fixture_root, tmp_path):
    """A warm oc build and its three mart writes run three Spark jobs
    (one a mart write; the lineage cuts fill inside them), compile no class,
    and plan with no whole-stage code, broadcast or adaptive node —
    the bounded session's profile (``session.BOUNDED_CONF``)."""
    sc = spark.sparkContext
    metrics = getattr(
        getattr(spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"), "MODULE$"
    )

    def build(out):
        marts = run_pipeline(OC, load_raw_sources(spark, str(fixture_root)))
        for mart in MART_OUTPUTS:
            marts[mart].write.parquet(str(out / mart))
        return marts

    build(tmp_path / "cold")
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    sc.setJobGroup("sgp_warm_build", "sgp_warm_build")
    try:
        marts = build(tmp_path / "warm")
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("sgp_warm_build")) == 3
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiled
    for mart in MART_OUTPUTS:
        names = _node_names(marts[mart]._jdf.queryExecution().executedPlan())
        bad = [n for n in names if n.startswith(
            ("WholeStageCodegen", "BroadcastExchange", "AdaptiveSparkPlan"))]
        assert not bad, (mart, bad)


def test_bounded_session_leaves_the_root_alone(spark, fixture_root):
    """The build's conf lives in a child session: the root keeps its
    own AQE, partitioning and codegen settings and still plans
    adaptively."""
    from pyspark.sql import functions as F

    from dbt_lakehouse_aws_spark.session import BOUNDED_CONF, bounded_session

    before = {k: spark.conf.get(k, None) for k in BOUNDED_CONF}
    players = load_raw_sources(spark, str(fixture_root))["players"]
    child = bounded_session(spark)
    assert child is bounded_session(spark)
    assert players.sparkSession is child
    assert {k: child.conf.get(k) for k in BOUNDED_CONF} == BOUNDED_CONF
    assert {k: spark.conf.get(k, None) for k in BOUNDED_CONF} == before
    assert before["spark.sql.adaptive.enabled"] == "true"
    assert before["spark.sql.codegen.factoryMode"] != "NO_CODEGEN"
    assert before["spark.sql.shuffle.partitions"] != "1"
    grouped = spark.range(100).groupBy(F.col("id") % 3).count()
    assert grouped._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan"


def test_percentiles_sign_flip(results, fixture_root):
    pct = results["sgp_percentiles"].toPandas()
    oc = pct[pct._filename == OC.standings_filename].set_index("category")
    # descending cats: p90 > p80; lower-is-better cats: p90 < p80
    assert oc.loc["R", "p90"] > oc.loc["R", "p80"]
    assert oc.loc["ERA", "p90"] < oc.loc["ERA", "p80"]
    assert oc.loc["ERA", "p80"] > 0  # sign restored after the flip


def test_fifties_league_parameterization(spark, fixture_root, expected):
    """The same pipeline code under the 50s LeagueConfig must produce
    the 50s-file factors and ADP join — the reference's duplicated
    model pair collapsed into parameters (SURVEY §7.1)."""
    from dbt_lakehouse_aws_spark.sgp.config import FIFTIES

    sources = load_raw_sources(spark, str(fixture_root))
    out = run_pipeline(FIFTIES, sources)
    mart = out["overall_rankings"].toPandas()

    src = sgp_oracle.load_sources(fixture_root)
    ids = sgp_oracle.ids_frame(src["players"], src["id_map"])
    factors = sgp_oracle.factor_table(src["standings"])
    hit = sgp_oracle.hitting_values(src, ids, factors, FIFTIES)
    pitch = sgp_oracle.pitching_values(src, ids, factors, FIFTIES)
    want = sgp_oracle.overall_rankings(src, ids, hit, pitch, FIFTIES)

    g = mart.set_index("id").sort_index()
    w = want.set_index("id").sort_index()
    assert len(g) == len(w)
    assert (g["rank"] == w["rank"]).all()
    assert np.allclose(g["value"], w["value"], rtol=1e-9)
    # the 50s config picked the Fifties ADP file, not OC's
    assert g["adp"].isna().equals(w["adp"].isna())
    # and differs from the OC run for at least some players
    oc_mart = expected["mart"].set_index("id")
    joined = g[["value"]].join(oc_mart[["value"]], rsuffix="_oc", how="inner")
    assert (joined["value"] != joined["value_oc"]).any()
