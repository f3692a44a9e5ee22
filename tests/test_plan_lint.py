"""Plan linter: each smell is triggered by a minimal plan that
actually exhibits it, and clean plans pass."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.plans.lint import PlanSmell, assert_scalable, plan_report


@pytest.fixture(scope="module")
def ab(spark):
    a = spark.range(100).select(F.col("id").alias("a"), (F.col("id") % 7).alias("k"))
    b = spark.range(50).select(F.col("id").alias("b"), (F.col("id") % 7).alias("k2"))
    return a, b


def test_clean_equi_join_passes(spark, ab):
    a, b = ab
    rep = assert_scalable(a.join(b, a.k == b.k2).groupBy("k").count())
    assert not rep.errors


def test_cartesian_detected(spark, ab):
    a, b = ab
    df = a.crossJoin(b.hint("shuffle_replicate_nl"))
    rep = plan_report(df)
    assert rep.smells["cartesian"]
    with pytest.raises(PlanSmell):
        assert_scalable(df)


def test_single_partition_window_detected(spark, ab):
    a, _ = ab
    df = a.withColumn("rn", F.row_number().over(Window.orderBy("a")))
    rep = plan_report(df)
    assert rep.smells["single_partition_exchange"]
    with pytest.raises(PlanSmell):
        assert_scalable(df)


def test_row_udf_detected_arrow_not(spark, ab):
    a, _ = ab
    plain = F.udf(lambda x: x + 1, "long", useArrow=False)
    df = a.select(plain("a").alias("x"))
    assert plan_report(df).smells["python_row_udf"]
    with pytest.raises(PlanSmell):
        assert_scalable(df)


def test_expand_is_warning_not_error(spark, ab):
    a, _ = ab
    df = a.groupBy("k").agg(
        F.countDistinct("a").alias("c1"),
        F.countDistinct(F.col("a") % 3).alias("c2"),
    )
    rep = plan_report(df)
    assert rep.smells["expand"]
    assert_scalable(df)  # warning class: passes non-strict
    with pytest.raises(PlanSmell):
        assert_scalable(df, strict=True)


def test_max_shuffles_bound(spark, ab):
    a, b = ab
    df = a.join(b.repartition(16, "k2"), a.k == b.k2).groupBy("k").count()
    with pytest.raises(PlanSmell):
        assert_scalable(df, max_shuffles=0)


def test_headline_queries_are_scalable(spark, sf_dir):
    """The engine's own flagship shapes pass their own linter
    (broadcast-nested-loop in hard-negative mining is the sanctioned
    warning case, so non-strict)."""
    from dbt_lakehouse_aws_spark import standard_queries as SQ

    qs = SQ.all_queries()
    for name in ("q1_pricing_summary", "q3_top_revenue_orders", "q5_local_supplier_volume",
                 "q21_waiting_suppliers", "bigram_lm_quality", "chunk_documents"):
        assert_scalable(qs[name](spark, sf_dir))


#: queries whose CONSTRUCTION executes driver-side iteration (BPE /
#: Lloyd's / PageRank / connected components / IVF training) — their
#: constituent plans are linted via their own plan tests; building
#: them here would run multi-round jobs, not lint a plan.
_ITERATIVE = (
    "bpe_",
    "pagerank",
    "kmeans",
    "ann_ivf",
    "semantic_dedup",
    "minhash_dedup_survivors",
    "corpus_pipeline",
)


def test_every_registered_query_plan_is_scalable(spark, sf_dir):
    """The whole driver surface passes the scale linter: no cartesian
    products, no row-pickling Python UDFs, and no single-partition
    funnel (scalar final aggregates are exempt by the tree-aware
    check; bounded-window cases compile to TakeOrderedAndProject or
    post-limit windows that never materialize a full relation in one
    task)."""
    from dbt_lakehouse_aws_spark import standard_queries as SQ

    failures = {}
    for name, fn in SQ.all_queries().items():
        if any(s in name for s in _ITERATIVE):
            continue
        try:
            rep = plan_report(fn(spark, sf_dir))
        except Exception as e:  # pragma: no cover - structural failure
            failures[name] = f"build error: {e}"
            continue
        if rep.errors:
            failures[name] = rep.errors
    assert not failures, failures


def test_coactivity_slot_ids_have_no_single_partition_window(spark, sf_dir):
    """The capped co-activity constructor numbers event types with a
    scalar aggregate, not a global ``row_number`` window. The capped
    graph queries checkpoint downstream of it, which hides such a
    funnel from the registry sweep above, so lint the constructor."""
    from dbt_lakehouse_aws_spark.operators.coactivity import coactivity_weighted_capped

    assert_scalable(coactivity_weighted_capped(spark, sf_dir))
