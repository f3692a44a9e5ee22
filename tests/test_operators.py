"""Relational / aggregate / window operators vs hand-computed truth
(SURVEY §2.2-2.7).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.operators.aggregates import (
    ensemble_avg,
    percentiles,
    pivot_wide,
    regression_slope,
    unpivot_long,
)
from dbt_lakehouse_aws_spark.operators.relational import (
    cast_columns,
    null_padded_union,
    when_chain,
)
from dbt_lakehouse_aws_spark.operators.windows import (
    global_row_number,
    ranked_in_group,
    top_k_per_group,
)


def test_cast_columns(spark):
    df = spark.createDataFrame([("1.5", "7")], "a string, b string")
    out = cast_columns(df, {"a": "double", "b": "int"})
    assert dict(out.dtypes) == {"a": "double", "b": "int"}
    r = out.collect()[0]
    assert (r["a"], r["b"]) == (1.5, 7)


def test_when_chain_first_match_wins(spark):
    """The reference's LIKE-bucketing depends on CASE order: a 'C,2B'
    player is a C (catcher branch fires first)."""
    df = spark.createDataFrame([("C,2B",), ("2B,SS",), ("UT",)], "pos string")
    bucket = when_chain(
        [
            (F.col("pos").like("%C%"), "C"),
            (F.col("pos").like("%2B%"), "MI"),
        ],
        default="OTHER",
    )
    got = [r[0] for r in df.select(bucket.alias("b")).collect()]
    assert got == ["C", "MI", "OTHER"]


def test_null_padded_union_types_and_rows(spark):
    hitters = spark.createDataFrame([("h1", 10.0)], "id string, hr double")
    pitchers = spark.createDataFrame([("p1", 3.5)], "id string, era double")
    out = null_padded_union(
        [hitters, pitchers], {"id": "string", "hr": "double", "era": "double"}
    )
    assert out.columns == ["id", "hr", "era"]
    rows = {r["id"]: (r["hr"], r["era"]) for r in out.collect()}
    assert rows == {"h1": (10.0, None), "p1": (None, 3.5)}


def test_ensemble_avg_with_exclusion(spark):
    df = spark.createDataFrame(
        [
            ("p1", "steamer", 2.0, 10.0),
            ("p1", "thebat", 4.0, 99.0),  # sv vote excluded, k kept
            ("p1", "atc", 6.0, 20.0),
        ],
        "id string, proj_system string, k double, sv double",
    )
    out = ensemble_avg(df, ["id"], ["k", "sv"], exclude={"sv": ("proj_system", "thebat")})
    r = out.collect()[0]
    assert r["k"] == pytest.approx(4.0)  # (2+4+6)/3
    assert r["sv"] == pytest.approx(15.0)  # (10+20)/2 — thebat dropped


def test_regression_slope_closed_form(spark):
    """y = 3x + 1 exactly → slope 3; constant-x group → NULL (nullif guard)."""
    rows = [("g", float(x), 3.0 * x + 1.0) for x in range(1, 6)]
    rows += [("flat", 2.0, float(y)) for y in (5, 7, 9)]
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    got = {r["grp"]: r["slope"] for r in regression_slope(df, ["grp"], "x", "y").collect()}
    assert got["g"] == pytest.approx(3.0)
    assert got["flat"] is None


def test_pivot_unpivot_roundtrip(spark):
    df = spark.createDataFrame(
        [("f1", "r", 1.0), ("f1", "hr", 2.0), ("f2", "r", 3.0), ("f2", "hr", 4.0)],
        "f string, category string, v double",
    )
    wide = pivot_wide(df, ["f"], "category", ["r", "hr"], "v", prefix="sgp_")
    assert set(wide.columns) == {"f", "sgp_r", "sgp_hr"}
    back = unpivot_long(wide, ["f"], ["sgp_r", "sgp_hr"])
    assert back.count() == 4
    got = {(r["f"], r["category"]): r["value"] for r in back.collect()}
    assert got[("f1", "sgp_r")] == 1.0
    assert got[("f2", "sgp_hr")] == 4.0


def test_percentiles_exact(spark):
    df = spark.createDataFrame([("g", float(v)) for v in range(1, 11)], "g string, v double")
    r = percentiles(df, ["g"], "v", [0.8, 0.9]).collect()[0]
    # linear interpolation over 1..10: p80 = 8.2, p90 = 9.1
    assert r["p80"] == pytest.approx(8.2)
    assert r["p90"] == pytest.approx(9.1)


def test_ranked_in_group_methods(spark):
    df = spark.createDataFrame(
        [("a", 10), ("a", 10), ("a", 5), ("b", 1)], "g string, v int"
    )
    out = ranked_in_group(df, ["g"], [F.desc("v")], method="rank")
    got = sorted((r["g"], r["v"], r["rnk"]) for r in out.collect())
    assert got == [("a", 5, 3), ("a", 10, 1), ("a", 10, 1), ("b", 1, 1)]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", i) for i in range(10)] + [("g2", i) for i in range(3)],
        "g string, v int",
    )
    out = top_k_per_group(df, ["g"], [F.desc("v")], 2, keep_rank_as="rn")
    got = sorted((r["g"], r["v"], r["rn"]) for r in out.collect())
    assert got == [("g1", 8, 2), ("g1", 9, 1), ("g2", 1, 2), ("g2", 2, 1)]


def test_global_row_number_matches_single_partition_window(spark):
    """The scalable two-pass rank must agree exactly with the naive
    Window.orderBy over a total order."""
    df = spark.createDataFrame(
        [(i % 7, i) for i in range(500)], "k int, uid int"
    ).repartition(8)
    fast = global_row_number(df, [F.desc("k"), F.asc("uid")], name="rn", num_partitions=6)
    naive = df.withColumn(
        "rn_naive",
        F.row_number().over(Window.orderBy(F.desc("k"), F.asc("uid"))).cast("long"),
    )
    j = fast.join(naive, ["k", "uid"])
    assert j.filter(F.col("rn") != F.col("rn_naive")).count() == 0
    assert fast.count() == 500


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ at rsd=0.02 must land within 5% of the exact distinct
    count on every event-type group."""
    from dbt_lakehouse_aws_spark import standard_queries as SQ

    ev = SQ.T(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in SQ.all_queries()["approx_distinct_users"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for t, n in exact.items():
        assert abs(approx[t] - n) / n < 0.05, (t, approx[t], n)


def test_scd2_collapse_runs_and_null_states(spark):
    """Consecutive equal states collapse (NULL-safely); any change
    — including to/from NULL — opens a new validity range."""
    from dbt_lakehouse_aws_spark.operators.scd import scd2_collapse

    rows = [
        (1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "a"),
        (2, 1, None), (2, 2, None), (2, 3, "x"),
    ]
    df = spark.createDataFrame(rows, "k long, period long, state string")
    got = {
        (r["k"], r["valid_from"]): (r["state"], r["valid_to"], r["n_periods"])
        for r in scd2_collapse(
            df, key_cols=["k"], state_cols=["state"], order_col="period"
        ).collect()
    }
    assert got == {
        (1, 1): ("a", 2, 2),
        (1, 3): ("b", 3, 1),
        (1, 4): ("a", 4, 1),
        (2, 1): (None, 2, 2),   # NULL run stays one range
        (2, 3): ("x", 3, 1),
    }


def test_merge_upsert_update_wins_insert_passthrough(spark):
    from dbt_lakehouse_aws_spark.operators.relational import merge_upsert

    target = spark.createDataFrame(
        [(1, "old"), (2, "keep")], "id long, v string"
    )
    updates = spark.createDataFrame(
        [(1, "new"), (3, "insert")], "id long, v string"
    )
    got = {r["id"]: r["v"] for r in merge_upsert(target, updates, ["id"]).collect()}
    assert got == {1: "new", 2: "keep", 3: "insert"}


def test_profile_columns_counts_nulls_and_distinct(spark):
    from dbt_lakehouse_aws_spark.operators.relational import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "x long, s string",
    )
    out = {r["column"]: r for r in profile_columns(df, exact_distinct=True).collect()}
    assert out["x"]["n_rows"] == 4
    assert out["x"]["n_nulls"] == 1
    assert out["x"]["n_distinct"] == 2
    assert out["x"]["min_val"] == "1" and out["x"]["max_val"] == "2"
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2


def test_mad_outliers_flags_planted_spike(spark):
    from dbt_lakehouse_aws_spark.operators.aggregates import mad_outliers

    vals = [("g", float(v)) for v in [10, 11, 12, 13, 14, 1000]]
    vals += [("h", float(v)) for v in [5, 5, 5, 5]]
    df = spark.createDataFrame(vals, "grp string, x double")
    out = {r["grp"]: r for r in mad_outliers(df, group_cols=["grp"], value_col="x").collect()}
    assert out["g"]["median"] == 12.5
    assert out["g"]["n_outliers"] == 1        # the 1000 spike
    assert out["h"]["mad"] == 0.0 and out["h"]["n_outliers"] == 0


def test_interval_union_hand_computed(spark):
    from dbt_lakehouse_aws_spark.operators.windows import interval_union_length

    rows = [
        # user 1: [0,10] ∪ [5,15] ∪ [20,30] → 15 + 10 = 25, 2 islands
        (1, 0, 10), (1, 5, 15), (1, 20, 30),
        # user 2: nested [0,100] ⊇ [10,20] → 100, 1 island
        (2, 0, 100), (2, 10, 20),
        # user 3: touching endpoints [0,5][5,9] merge (closed intervals)
        (3, 0, 5), (3, 5, 9),
    ]
    df = spark.createDataFrame(rows, "u long, s long, e long")
    out = {
        r["u"]: (r["union_len"], r["n_islands"])
        for r in interval_union_length(df, key_cols=["u"], start_col="s", end_col="e").collect()
    }
    assert out[1] == (25, 2)
    assert out[2] == (100, 1)
    assert out[3] == (9, 1)


def test_interval_union_single_exchange(spark):
    """Windows and aggregates all share the user partition key: the
    plan must contain exactly one shuffle."""
    from dbt_lakehouse_aws_spark.operators.windows import interval_union_length

    df = spark.range(100).select(
        (F.col("id") % 5).alias("u"), F.col("id").alias("s"), (F.col("id") + 3).alias("e")
    )
    out = interval_union_length(df, key_cols=["u"], start_col="s", end_col="e")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    assert tree.count("Exchange") == 1


def test_distinct_sketch_rollup_merge_consistency(spark):
    from dbt_lakehouse_aws_spark.operators.aggregates import distinct_sketch_rollup

    # 3 groups with distinct-but-overlapping member sets
    df = spark.range(30_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 7000).alias("member"),
    )
    out = {r["group_key"]: r for r in distinct_sketch_rollup(
        df, group_col="g", value_col="member").collect()}
    exact_total = 7000
    est = out["__total__"]["distinct_est"]
    assert abs(est - exact_total) / exact_total < 0.05  # HLL ±few %
    assert out["__total__"]["n_rows"] == 30_000
    for g in ("0", "1", "2"):
        exact_g = df.filter(F.col("g") == g).select("member").distinct().count()
        assert abs(out[g]["distinct_est"] - exact_g) / exact_g < 0.05


def test_pagerank_matches_power_iteration(spark):
    from dbt_lakehouse_aws_spark.operators.graph import pagerank

    # 4-node graph with a dangling node (3 has no out-edges)
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=25).collect()}

    # reference: plain python power iteration, same damping/dangling
    import collections
    out = collections.defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    nodes = [0, 1, 2, 3]
    r = {v: 0.25 for v in nodes}
    for _ in range(25):
        dang = sum(r[v] for v in nodes if v not in out)
        nxt = {v: (1 - 0.85) / 4 + 0.85 * dang / 4 for v in nodes}
        for s in out:
            for d in out[s]:
                nxt[d] += 0.85 * r[s] / len(out[s])
        r = nxt
    for v in nodes:
        assert abs(got[v] - r[v]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_distinct_sketch_rollup_nonstring_group_and_sentinel(spark):
    """ADVICE r1: a non-string group column must union cleanly with
    the rollup row, and the sentinel is parameterizable so a genuine
    group can never collide with it."""
    from dbt_lakehouse_aws_spark.operators.aggregates import distinct_sketch_rollup

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("g"),  # bigint group col
        (F.col("id") % 50).alias("member"),
    )
    out = {r["group_key"]: r for r in distinct_sketch_rollup(
        df, group_col="g", value_col="member", total_sentinel="<ALL>").collect()}
    assert set(out) == {"0", "1", "2", "<ALL>"}
    assert out["<ALL>"]["n_rows"] == 1000


def test_profile_columns_empty_cols_raises(spark):
    from dbt_lakehouse_aws_spark.operators.relational import profile_columns

    df = spark.range(3)
    with pytest.raises(ValueError, match="at least one column"):
        profile_columns(df, cols=[])


def test_heavy_hitters_exact_on_zipfian(spark):
    """Misra-Gries candidates + exact recount must equal the plain
    groupBy top-k on skewed data, with exact counts."""
    from dbt_lakehouse_aws_spark.operators.aggregates import heavy_hitters

    # Zipf-ish: value v appears ~N/v times
    rows = [(v,) for v in range(1, 200) for _ in range(2000 // v)]
    df = spark.createDataFrame(rows, "val int").repartition(8)
    got = [(r["val"], r["n"]) for r in heavy_hitters(df, "val", k=10, capacity=64).collect()]
    exact = (
        df.groupBy("val").count().orderBy(F.desc("count"), F.asc("val")).limit(10).collect()
    )
    assert got == [(r["val"], r["count"]) for r in exact]


# ---------------------------------------------------------------------------
# KMV bottom-k distinct sketches (operators/sketches.py)
# ---------------------------------------------------------------------------


def _kmv_fixture(spark, n_a=600, n_b=600, n_shared=300):
    """Two groups with a known overlap: A = shared ∪ onlyA,
    B = shared ∪ onlyB, all values distinct strings."""
    rows = (
        [("A", f"shared-{i}") for i in range(n_shared)]
        + [("B", f"shared-{i}") for i in range(n_shared)]
        + [("A", f"a-{i}") for i in range(n_a - n_shared)]
        + [("B", f"b-{i}") for i in range(n_b - n_shared)]
    )
    # duplicate every row once: sketches are over DISTINCT values
    return spark.createDataFrame(rows * 2, "g string, v string")


def test_kmv_estimates_within_tolerance(spark):
    """k=256 bottom-k estimator: relative error ~1/sqrt(k) ≈ 6%;
    assert within 20% on union=900, intersection=300, jaccard=1/3."""
    from dbt_lakehouse_aws_spark.operators.sketches import (
        kmv_pairwise_overlap,
        kmv_sketch,
    )

    df = _kmv_fixture(spark)
    sk = kmv_sketch(df, group_col="g", value_col="v", k=256, portable=True)
    row = kmv_pairwise_overlap(sk, k=256).collect()[0]
    assert row["group_a"] == "A" and row["group_b"] == "B"
    assert abs(row["union_est"] - 900) / 900 < 0.20
    assert abs(row["intersection_est"] - 300) / 300 < 0.35
    assert abs(row["jaccard_est"] - 1 / 3) / (1 / 3) < 0.35


def test_kmv_exhaustive_groups_are_exact(spark):
    """Groups smaller than k: the sketch holds every distinct hash,
    so union/intersection estimates are exact counts."""
    from dbt_lakehouse_aws_spark.operators.sketches import (
        kmv_pairwise_overlap,
        kmv_sketch,
    )

    df = _kmv_fixture(spark, n_a=30, n_b=40, n_shared=10)
    sk = kmv_sketch(df, group_col="g", value_col="v", k=256, portable=True)
    row = kmv_pairwise_overlap(sk, k=256).collect()[0]
    assert row["union_est"] == 60.0
    assert row["intersection_est"] == 10.0
    assert row["jaccard_est"] == round(10 / 60, 6)


def test_kmv_sketch_is_mergeable(spark):
    """The defining sketch property: bottom-k of (bottom-k(A) ∪
    bottom-k(B)) == bottom-k of (A ∪ B) computed from raw data."""
    from pyspark.sql import functions as F

    from dbt_lakehouse_aws_spark.operators.sketches import kmv_sketch

    df = _kmv_fixture(spark)
    k = 64
    sk = kmv_sketch(df, group_col="g", value_col="v", k=k, portable=True)
    merged_from_sketches = sk.agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))), 1, k
        ).alias("kmv")
    ).collect()[0]["kmv"]
    raw_union = kmv_sketch(
        df.withColumn("g", F.lit("all")), group_col="g", value_col="v", k=k, portable=True
    ).collect()[0]["kmv"]
    assert merged_from_sketches == raw_union


def test_kmv_default_hash_mode_runs(spark):
    """xxhash64 mode (production default) produces full-size sketches
    and deterministic values across two runs."""
    from dbt_lakehouse_aws_spark.operators.sketches import kmv_sketch

    df = _kmv_fixture(spark)
    a = kmv_sketch(df, group_col="g", value_col="v", k=32).collect()
    b = kmv_sketch(df, group_col="g", value_col="v", k=32).collect()
    assert sorted((r["group_key"], tuple(r["kmv"])) for r in a) == sorted(
        (r["group_key"], tuple(r["kmv"])) for r in b
    )
    assert all(r["n_kept"] == 32 for r in a)


def test_cms_never_underestimates_and_merges(spark):
    """CMS point estimates are >= exact counts everywhere; summing
    two shards' sketches equals the sketch of the union (the
    mergeability that makes it per-partition state at scale)."""
    from dbt_lakehouse_aws_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    rows = [(f"u{i % 40}",) for i in range(1000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, "v string")
    sk = count_min_sketch(df, value_col="v", depth=4, width=32, portable=True)
    probes = df.select("v").distinct()
    est = {
        r["value"]: r["est_count"]
        for r in cms_estimate(
            sk, probes, value_col="v", depth=4, width=32, portable=True
        ).collect()
    }
    exact = {r["v"]: r["count"] for r in df.groupBy("v").count().collect()}
    assert all(est[v] >= c for v, c in exact.items())
    assert est["hot"] >= 500

    half_a = spark.createDataFrame(rows[:700], "v string")
    half_b = spark.createDataFrame(rows[700:], "v string")
    merged = (
        count_min_sketch(half_a, value_col="v", depth=4, width=32, portable=True)
        .unionByName(
            count_min_sketch(half_b, value_col="v", depth=4, width=32, portable=True)
        )
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = count_min_sketch(df, value_col="v", depth=4, width=32, portable=True)
    a = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
    b = {(r["row"], r["bucket"]): r["cnt"] for r in whole.collect()}
    assert a == b


def test_ntile_scalable_matches_builtin_including_remainder(spark):
    """The closed-form band formula must equal Window ntile() exactly,
    including the uneven-remainder rule (N=47, n=10 → bands 1-7 get
    5 rows, 8-10 get 4)."""
    from dbt_lakehouse_aws_spark.operators.windows import ntile_scalable

    df = spark.createDataFrame(
        [(i, (i * 37) % 101) for i in range(47)], "id long, v long"
    ).repartition(6)
    fast = ntile_scalable(df, [F.asc("v"), F.asc("id")], n=10, name="band")
    naive = df.withColumn(
        "band_ref",
        F.ntile(10).over(Window.orderBy(F.asc("v"), F.asc("id"))).cast("long"),
    )
    j = fast.join(naive, ["id", "v"])
    assert j.filter(F.col("band") != F.col("band_ref")).count() == 0
    sizes = sorted(
        (r["band"], r["count"]) for r in fast.groupBy("band").count().collect()
    )
    assert sizes == [(b, 5 if b <= 7 else 4) for b in range(1, 11)]
    # fewer rows than tiles: every row its own band, no div-by-zero
    tiny = spark.createDataFrame([(1, 1), (2, 2)], "id long, v long")
    got = sorted(
        r["band"]
        for r in ntile_scalable(tiny, [F.asc("v"), F.asc("id")], n=10).collect()
    )
    assert got == [1, 2]


def test_point_in_time_join_as_was_semantics(spark):
    """Each fact picks the range covering its time; facts outside any
    range null-pad on left join; inner join drops them; at most one
    match per fact (no fan-out)."""
    from dbt_lakehouse_aws_spark.operators.scd import point_in_time_join

    dim = spark.createDataFrame(
        [
            (1, "bronze", 1, 3),
            (1, "gold", 4, 6),
            (2, "silver", 2, 5),
        ],
        "k long, tier string, valid_from long, valid_to long",
    )
    facts = spark.createDataFrame(
        [(100, 1, 2), (101, 1, 4), (102, 1, 9), (103, 2, 5), (104, 3, 2)],
        "fid long, k long, t long",
    )
    out = point_in_time_join(facts, dim, keys=["k"], at_col="t")
    got = {r["fid"]: r["tier"] for r in out.collect()}
    assert got == {100: "bronze", 101: "gold", 102: None, 103: "silver", 104: None}
    assert out.count() == 5  # no fan-out
    inner = point_in_time_join(facts, dim, keys=["k"], at_col="t", how="inner")
    assert {r["fid"] for r in inner.collect()} == {100, 101, 103}
    import pytest

    with pytest.raises(ValueError, match="supports inner/left"):
        point_in_time_join(facts, dim, keys=["k"], at_col="t", how="full")


def test_point_in_time_join_null_valid_to_matches_current_row(spark):
    """External SCD2 sources commonly leave the current row open with
    valid_to NULL — it must match facts at/after valid_from instead
    of silently never matching (ADVICE r3)."""
    from dbt_lakehouse_aws_spark.operators.scd import point_in_time_join

    dim = spark.createDataFrame(
        [(1, "bronze", 1, 3), (1, "gold", 4, None)],
        "k long, tier string, valid_from long, valid_to long",
    )
    facts = spark.createDataFrame(
        [(100, 1, 2), (101, 1, 4), (102, 1, 999)], "fid long, k long, t long"
    )
    got = {
        r["fid"]: r["tier"]
        for r in point_in_time_join(facts, dim, keys=["k"], at_col="t").collect()
    }
    assert got == {100: "bronze", 101: "gold", 102: "gold"}


def test_table_digest_order_insensitive_and_change_sensitive(spark):
    """Same multiset under any partitioning → same digest; any
    single-row change, row swap-for-duplicate, or NULL-position swap
    → different digest."""
    from dbt_lakehouse_aws_spark.operators.relational import table_digest

    rows = [(i, f"v{i % 13}") for i in range(500)]
    a = spark.createDataFrame(rows, "k long, v string").repartition(7)
    b = spark.createDataFrame(list(reversed(rows)), "k long, v string").repartition(3)
    da = table_digest(a).collect()[0]
    db = table_digest(b).collect()[0]
    assert (da["n_rows"], da["digest"]) == (db["n_rows"], db["digest"])

    changed = spark.createDataFrame(
        rows[:-1] + [(499, "TAMPERED")], "k long, v string"
    )
    assert table_digest(changed).collect()[0]["digest"] != da["digest"]
    # duplicate-swap keeps the count but must change the digest
    dup = spark.createDataFrame(rows[:-1] + [rows[0]], "k long, v string")
    dd = table_digest(dup).collect()[0]
    assert dd["n_rows"] == 500 and dd["digest"] != da["digest"]
    # NULL canonicalization: (NULL,'x') vs ('x',NULL) differ
    n1 = spark.createDataFrame([(None, "x")], "a string, b string")
    n2 = spark.createDataFrame([("x", None)], "a string, b string")
    assert (
        table_digest(n1).collect()[0]["digest"]
        != table_digest(n2).collect()[0]["digest"]
    )


def test_rollup_tree_exact_reaggregation_and_nonnesting_grains(spark):
    """Week/month derive from the DAY frame: totals per grain all
    equal the raw total exactly (decimal measures), and a week that
    straddles a month boundary does not leak rows into the wrong
    month (the month-from-week bug this operator refuses to have)."""
    from datetime import datetime

    from dbt_lakehouse_aws_spark.operators.aggregates import rollup_tree

    # Jan 29 - Feb 4 2024 is one Monday-start week across the boundary
    from datetime import timedelta

    rows = [
        (datetime(2024, 1, 28, 12, 0) + timedelta(days=i), float(10 + i))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, amount double")
    tree = rollup_tree(
        df,
        time_col="ts",
        measures={
            "total": F.sum(F.col("amount").cast("decimal(18,4)")),
            "n": F.count(F.lit(1)),
        },
    ).collect()
    by = {}
    for r in tree:
        by.setdefault(r["grain"], {})[r["bucket"].isoformat()] = (
            float(r["total"]),
            r["n"],
        )
    raw_total = sum(10 + i for i in range(8))
    for g in ("day", "week", "month"):
        assert sum(t for t, _ in by[g].values()) == raw_total, g
        assert sum(n for _, n in by[g].values()) == 8, g
    # Jan gets Jan 28-31 (10+11+12+13), Feb gets Feb 1-4 (14+15+16+17)
    assert by["month"]["2024-01-01"] == (46.0, 4)
    assert by["month"]["2024-02-01"] == (62.0, 4)
    # the straddling week (Mon Jan 29) holds 7 of the 8 days
    assert by["week"]["2024-01-29"][1] == 7


def test_rollup_tree_per_measure_reagg_for_min_max(spark):
    """A max measure re-aggregated with the default F.sum would report
    the SUM of daily maxes at week/month grain (ADVICE r3); the
    ``reagg`` map must carry F.max through the coarser grains, and an
    unknown reagg key must raise."""
    from datetime import datetime, timedelta

    import pytest

    from dbt_lakehouse_aws_spark.operators.aggregates import rollup_tree

    rows = [
        (datetime(2024, 1, 1, 12, 0) + timedelta(days=i), float(10 * (i + 1)))
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, amount double")
    tree = rollup_tree(
        df,
        time_col="ts",
        measures={"peak": F.max("amount"), "total": F.sum("amount")},
        grains=("day", "month"),
        reagg={"peak": F.max},
    ).collect()
    month = next(r for r in tree if r["grain"] == "month")
    assert month["peak"] == 40.0  # max of daily maxes, not 10+20+30+40
    assert month["total"] == 100.0  # sums still sum
    with pytest.raises(ValueError, match="reagg keys not in measures"):
        rollup_tree(
            df,
            time_col="ts",
            measures={"total": F.sum("amount")},
            reagg={"typo": F.max},
        )


def test_kmv_pairwise_overlap_rejects_nonportable_sketches(spark):
    """Default xxhash64 sketches have signed hashes — the 2^60-space
    cardinality estimator would silently produce negative/nonsense
    estimates, so kmv_pairwise_overlap must refuse them (ADVICE r3)."""
    import pytest

    from dbt_lakehouse_aws_spark.operators.sketches import (
        kmv_pairwise_overlap,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [(g, v) for g in ("a", "b") for v in range(50)], "g string, v long"
    )
    sk = kmv_sketch(df, group_col="g", value_col="v", k=16)  # portable=False
    with pytest.raises(ValueError, match="portable=True"):
        kmv_pairwise_overlap(sk, k=16)


def test_triangle_counts_hand_graph(spark):
    """K4 plus a pendant: each K4 corner is in C(3,2)=3 triangles,
    the pendant in none; duplicate/reversed/self-loop input rows must
    not change the counts."""
    from dbt_lakehouse_aws_spark.operators.graph import triangle_counts

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (4, 5),                                          # pendant
        (2, 1), (3, 1), (1, 1),                          # noise: dup/rev/self
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0}


def test_common_neighbor_scores_hand_graph(spark):
    """Path a-c-b plus hub: a and b share {c}, are non-adjacent;
    adjacent pairs are excluded even with shared neighbors."""
    from dbt_lakehouse_aws_spark.operators.graph import common_neighbor_scores

    edges = [(1, 3), (2, 3), (1, 4), (2, 4), (1, 2)]
    # 1-2 adjacent (shares 3,4) -> excluded; 3-4 share {1,2} -> jaccard 2/(2+2-2)=1.0
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["node_a"], r["node_b"]): (r["common"], round(r["jaccard"], 6))
        for r in common_neighbor_scores(df).collect()
    }
    assert got == {(3, 4): (2, 1.0)}


def test_cusum_hand_series(spark):
    """Hand-computed CUSUM: series 1,1,10,1 per key; mu=3.25,
    sd=stddev_samp, drift=mu+0.5sd; fold max(0, s+x-drift)."""
    import statistics

    from dbt_lakehouse_aws_spark.operators.temporal import cusum_daily_anomaly

    rows = []
    series = {"a": [1, 1, 10, 1]}
    for key, xs in series.items():
        for d, x in enumerate(xs, start=1):
            for i in range(x):
                rows.append((key, f"2024-01-0{d} 00:00:0{i % 10}.{i}"))
    df = spark.createDataFrame(rows, "event_type string, ts_s string").select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {
        str(r["day"]): r["cusum"]
        for r in cusum_daily_anomaly(df, key_col="event_type").collect()
    }
    mu = statistics.mean(series["a"])
    sd = statistics.stdev(series["a"])
    drift = mu + 0.5 * sd
    s, want = 0.0, {}
    for d, x in enumerate(series["a"], start=1):
        s = max(0.0, s + (x - drift))
        want[f"2024-01-0{d}"] = s
    for day, v in want.items():
        assert got[day] == pytest.approx(v, abs=1e-9), day


def test_auc_roc_known_value(spark):
    """AUC on a tiny set with ties, cross-checked against the
    probabilistic definition P(s+ > s-) + 0.5 P(s+ = s-)."""
    from dbt_lakehouse_aws_spark.llmops.evalmetrics import auc_roc

    rows = [(0.1, 0), (0.2, 0), (0.2, 1), (0.7, 0), (0.8, 1), (0.8, 1)]
    df = spark.createDataFrame(rows, "s double, y int")
    got = auc_roc(df, score_col="s", label_col="y").collect()[0]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    want = sum(
        1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg
    ) / (len(pos) * len(neg))
    assert got["auc"] == pytest.approx(want, abs=1e-12)
    assert (got["n_pos"], got["n_neg"]) == (3, 3)


def test_logreg_fit_matches_numpy(spark):
    """The distributed GD trajectory equals the numpy full-batch
    reference to float tolerance."""
    import numpy as np

    from dbt_lakehouse_aws_spark.llmops.mlfit import logreg_fit

    rng = np.random.RandomState(7)
    x = rng.normal(size=(500, 2))
    y = (x[:, 0] + 0.5 * x[:, 1] + rng.normal(scale=0.5, size=500) > 0).astype(float)
    df = spark.createDataFrame(
        [(float(a), float(b), float(t)) for (a, b), t in zip(x, y)],
        "x1 double, x2 double, y double",
    )
    got = logreg_fit(df, ["x1", "x2"], "y", iters=4, lr=0.7)
    w = np.zeros(3)
    X = np.hstack([np.ones((500, 1)), x])
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w = w - 0.7 * (X.T @ (p - y)) / 500
    assert np.allclose(got, w, atol=1e-9)


def test_activity_streaks_hand_case(spark):
    """User 1: days 1,2,3,7,8 -> streaks (3, 2); user 2: one day."""
    from dbt_lakehouse_aws_spark.operators.temporal import activity_streaks

    rows = [
        (1, "2024-01-01"), (1, "2024-01-02"), (1, "2024-01-03"),
        (1, "2024-01-07"), (1, "2024-01-08"), (1, "2024-01-02"),
        (2, "2024-02-10"),
    ]
    df = spark.createDataFrame(rows, "u long, d string").select(
        "u", F.col("d").cast("date").alias("d")
    )
    got = {r["key"]: r for r in activity_streaks(df, key_col="u", date_col="d").collect()}
    assert got[1]["n_active_days"] == 5
    assert got[1]["longest_streak"] == 3
    assert got[1]["n_streaks"] == 2
    assert str(got[1]["longest_streak_start"]) == "2024-01-01"
    assert got[2]["longest_streak"] == 1 and got[2]["n_streaks"] == 1


def test_ancestor_closure_pointer_doubling(spark):
    """Chain 1->2->3->4->5->6->7 (depth NOT a power of two — pins the
    odd-distance coverage when the doubled jump table empties) plus a
    second root; closure = every proper ancestor."""
    from dbt_lakehouse_aws_spark.operators.graph import ancestor_closure

    chain = [(i, i + 1) for i in range(1, 7)]  # child -> parent
    other = [(10, 11)]
    df = spark.createDataFrame(chain + other, "child long, parent long")
    got = {(r["node"], r["anc"]) for r in ancestor_closure(df).collect()}
    want = {(c, a) for c in range(1, 7) for a in range(c + 1, 8)} | {(10, 11)}
    assert got == want


def test_subtree_rollup_hand_tree(spark):
    """Tree: 1 <- {2,3}, 2 <- {4,5}; values at leaves and inner
    nodes; rollup(1) = everything, rollup(2) = 2+4+5."""
    from dbt_lakehouse_aws_spark.operators.graph import subtree_rollup

    parents = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (5, 2)], "child long, parent long"
    )
    values = spark.createDataFrame(
        [(1, 1), (2, 10), (3, 100), (4, 1000), (5, 10000)],
        "node long, value long",
    )
    got = {r["node"]: r["subtree_total"] for r in subtree_rollup(parents, values).collect()}
    assert got == {1: 11111, 2: 11010, 3: 100, 4: 1000, 5: 10000}


def test_table_diff_classes(spark):
    """All four diff classes from one full-outer join, NULL-safe."""
    from dbt_lakehouse_aws_spark.operators.relational import table_diff

    a = spark.createDataFrame(
        [(1, "x", 10), (2, "y", None), (3, "z", 30), (4, "w", 40)],
        "k long, s string, v long",
    )
    b = spark.createDataFrame(
        [(1, "x", 10), (2, "y", None), (3, "z", 31), (5, "n", 50)],
        "k long, s string, v long",
    )
    got = {r["k"]: r["diff_status"] for r in table_diff(a, b, keys=["k"]).collect()}
    # 1 identical, 2 identical with NULL==NULL, 3 changed, 4 removed, 5 added
    assert got == {1: "unchanged", 2: "unchanged", 3: "changed", 4: "removed", 5: "added"}


def test_grid_proximity_pairs_hand_points(spark):
    """Pairs across cell borders are found exactly once; the exact
    radius is inclusive; far points in the same cell are excluded."""
    from dbt_lakehouse_aws_spark.operators.spatial import grid_proximity_pairs

    pts = [
        (1, 0, 0),
        (2, 10, 0),      # dist 10 from 1 -> in (radius 10, inclusive)
        (3, 11, 0),      # dist 11 from 1 -> out; dist 1 from 2 -> in
        (4, 9, 9),       # out vs 1 (d²=162), in vs 2 (82) and 3 (85)
        (5, 1000, 1000), # far away
        (6, 1005, 1000), # dist 5 from 5 -> in
    ]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        (r["id_a"], r["id_b"]): r["dist_sq"]
        for r in grid_proximity_pairs(
            df, id_col="id", x_col="x", y_col="y", radius=10
        ).collect()
    }
    assert got == {(1, 2): 100, (2, 3): 1, (2, 4): 82, (3, 4): 85, (5, 6): 25}

    # Ids must be unique; nothing de-duplicates. A repeated row yields
    # one pair row per copy, and one id on both sides of a cell border
    # pairs with itself.
    dup = [
        (7, 2000, 2000),
        (7, 2000, 2000),
        (8, 2001, 2000),
        (9, 3008, 3000),
        (9, 3012, 3000),
    ]
    rows = grid_proximity_pairs(
        spark.createDataFrame(dup, "id long, x long, y long"),
        id_col="id", x_col="x", y_col="y", radius=10,
    ).collect()
    assert sorted(tuple(r) for r in rows) == [(7, 8, 1), (7, 8, 1), (9, 9, 16)]


def test_cusum_numeric_key(spark):
    """CUSUM works with a non-string key column (output schema
    derives the key type from the input)."""
    from dbt_lakehouse_aws_spark.operators.temporal import cusum_daily_anomaly

    rows = [(7, "2024-01-01 00:00:00"), (7, "2024-01-02 00:00:00"),
            (7, "2024-01-02 00:00:01")]
    df = spark.createDataFrame(rows, "k long, ts_s string").select(
        "k", F.col("ts_s").cast("timestamp").alias("ts")
    )
    out = cusum_daily_anomaly(df, key_col="k").collect()
    assert {r["key"] for r in out} == {7}
    assert len(out) == 2


def test_holt_linear_smooth_hand_series(spark):
    """Hand-folded Holt recursion on counts 3,1,4,1,5 for one key;
    also pins the literal-constant contract the oracle depends on
    (1.0-0.3 == 0.7 bitwise)."""
    from dbt_lakehouse_aws_spark.operators.temporal import holt_linear_smooth

    assert 1.0 - 0.3 == 0.7 and 1.0 - 0.5 == 0.5

    series = [3, 1, 4, 1, 5]
    rows = []
    for d, x in enumerate(series, start=1):
        for i in range(x):
            rows.append(("a", f"2024-01-0{d} 00:00:0{i}"))
    df = spark.createDataFrame(rows, "event_type string, ts_s string").select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {
        str(r["day"]): (r["level"], r["trend"], r["forecast"])
        for r in holt_linear_smooth(df, key_col="event_type").collect()
    }
    lvl, trd = float(series[0]), 0.0
    want = {"2024-01-01": (lvl, trd, lvl + trd)}
    for d, x in enumerate(series[1:], start=2):
        prev = lvl
        lvl = 0.5 * x + 0.5 * (lvl + trd)
        trd = 0.3 * (lvl - prev) + 0.7 * trd
        want[f"2024-01-0{d}"] = (lvl, trd, lvl + trd)
    assert set(got) == set(want)
    for day, (l, t, f_) in want.items():
        assert got[day][0] == pytest.approx(l, abs=1e-12)
        assert got[day][1] == pytest.approx(t, abs=1e-12)
        assert got[day][2] == pytest.approx(f_, abs=1e-12)


def test_acf_daily_calendar_lag_with_gap(spark):
    """Series with a missing day: calendar lag-1 pairs skip across
    the gap (no pair), positional lag would wrongly pair around it.
    Counts: d1=1, d2=2, d4=3 -> lag1 pairs only (d2,d1); lag2 pairs
    only (d4,d2)."""
    from dbt_lakehouse_aws_spark.operators.temporal import acf_daily

    rows = []
    for d, x in [(1, 1), (2, 2), (4, 3)]:
        for i in range(x):
            rows.append(("a", f"2024-01-0{d} 00:00:0{i}"))
    df = spark.createDataFrame(rows, "event_type string, ts_s string").select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {
        (r["lag"]): r["n_pairs"]
        for r in acf_daily(df, key_col="event_type", max_lag=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}  # lag3: (d4,d1)


def test_calibration_bins_hand_case(spark):
    """4 rows, 2 bins: p=(0.1,0.2) y=(0,1) -> bin0; p=(0.8,0.9)
    y=(1,1) -> bin1 (n_bins=2). Exact milli-quantized arithmetic."""
    from dbt_lakehouse_aws_spark.llmops.evalmetrics import calibration_bins

    df = spark.createDataFrame(
        [(0.1, 0), (0.2, 1), (0.8, 1), (0.9, 1)], "p double, y int"
    )
    rows = {
        r["bin"]: r
        for r in calibration_bins(df, p_col="p", label_col="y", n_bins=2).collect()
    }
    assert rows[0]["n"] == 2 and rows[1]["n"] == 2
    assert rows[0]["avg_pred"] == pytest.approx(0.15)
    assert rows[0]["frac_pos"] == pytest.approx(0.5)
    assert rows[1]["avg_pred"] == pytest.approx(0.85)
    assert rows[1]["frac_pos"] == pytest.approx(1.0)
    # brier = ((100-0)^2 + (200-1000)^2 + (800-1000)^2 + (900-1000)^2) / 4e6
    want = (100**2 + 800**2 + 200**2 + 100**2) / 4e6
    assert rows[0]["brier"] == pytest.approx(want) == rows[1]["brier"]


def test_dbscan_labels_hand_points(spark):
    """Two tight triads (clusters), one point near a triad (border),
    one far point (noise). eps=10, min_pts=3."""
    from dbt_lakehouse_aws_spark.operators.spatial import dbscan_labels

    pts = [
        # triad A around (0,0): pairwise <= 10
        (1, 0, 0), (2, 6, 0), (3, 0, 6),
        # triad B around (1000,1000)
        (4, 1000, 1000), (5, 1006, 1000), (6, 1000, 1006),
        # border: within 10 of id=2 only -> 1 neighbor, not core
        (7, 14, 0),
        # noise
        (8, 5000, 5000),
    ]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {
        r["id"]: (r["role"], r["cluster"])
        for r in dbscan_labels(
            df, id_col="id", x_col="x", y_col="y", eps=10, min_pts=3
        ).collect()
    }
    assert got[1] == ("core", 1) and got[2] == ("core", 1) and got[3] == ("core", 1)
    assert got[4] == ("core", 4) and got[5] == ("core", 4) and got[6] == ("core", 4)
    assert got[7] == ("border", 1)
    assert got[8] == ("noise", None)


def test_theil_sen_outlier_robust(spark):
    """Counts 1,2,3,100,5 over days 1..5: median pairwise slope stays
    near the underlying +1/day despite the day-4 spike; verified
    against an in-test itertools fold."""
    import itertools
    import statistics

    from dbt_lakehouse_aws_spark.operators.temporal import theil_sen_daily_trend

    counts = [1, 2, 3, 100, 5]
    rows = []
    for d, x in enumerate(counts, start=1):
        for i in range(x):
            rows.append(("a", f"2024-01-0{d} 00:00:{i//60:02d}.{i%60}"))
    df = spark.createDataFrame(rows, "event_type string, ts_s string").select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = theil_sen_daily_trend(df, key_col="event_type").collect()[0]
    want = statistics.median(
        (counts[j] - counts[i]) / (j - i)
        for i, j in itertools.combinations(range(5), 2)
    )
    assert got["n_days"] == 5 and got["n_pairs"] == 10
    assert got["slope_per_day"] == pytest.approx(want)
    assert abs(got["slope_per_day"]) < 5  # robust to the spike


def test_kcore_fixed_rounds_peels_tendril(spark):
    """Triangle 1-2-3 with pendant chain 3-4-5: 2-core = the
    triangle; node 4 survives round 1 (degree 2) but peels in round
    2 once 5 is gone — the shell-by-shell behavior rounds=1 misses."""
    from dbt_lakehouse_aws_spark.operators.graph import kcore_fixed_rounds

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got1 = {
        r["node"]
        for r in kcore_fixed_rounds(edges, k=2, rounds=1).collect()
    }
    got3 = {
        (r["node"], r["degree"])
        for r in kcore_fixed_rounds(edges, k=2, rounds=3).collect()
    }
    assert 4 in got1  # one round is not the fixpoint
    assert got3 == {(1, 2), (2, 2), (3, 2)}


def test_hits_path_counts_hand_bipartite(spark):
    """Hubs {1,2} both point at part 10; hub 2 also at 11.
    a1: 10->2, 11->1; h1: 1->2, 2->3; a2: 10->5, 11->3."""
    from dbt_lakehouse_aws_spark.operators.graph import hits_path_counts

    e = spark.createDataFrame([(1, 10), (2, 10), (2, 11)], "hub long, auth long")
    got = {r["a"]: r["score"] for r in hits_path_counts(e, steps=2).collect()}
    assert got == {10: 5, 11: 3}


def test_bloom_semi_join_exact_and_prefilter_bounds(spark):
    """(a) bloom_semi_join is bit-identical to the plain semi-join;
    (b) the prefilter never drops a true key (no false negatives);
    (c) on 5,000 keys DISJOINT from the filter set, the pass-through
    (false-positive) rate stays under 1% at default sizing."""
    from dbt_lakehouse_aws_spark.operators.bloomjoin import (
        bloom_bitmap,
        bloom_prefilter,
        bloom_semi_join,
    )

    small = spark.range(0, 1000).select(
        (F.col("id") * 7 + 3).alias("k")
    )
    big = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    got = sorted(
        (r["k"], r["v"]) for r in bloom_semi_join(big, small, "k").collect()
    )
    want = sorted(
        (r["k"], r["v"])
        for r in big.join(small.distinct(), "k", "left_semi").collect()
    )
    assert got == want and len(got) > 0

    bitmap = bloom_bitmap(small, "k")
    # no false negatives: every true key survives the prefilter
    survivors = bloom_prefilter(small.select("k"), "k", bitmap).count()
    assert survivors == 1000
    # bounded false positives on a disjoint key range
    disjoint = spark.range(10**9, 10**9 + 5000).select(F.col("id").alias("k"))
    fp = bloom_prefilter(disjoint, "k", bitmap).count()
    assert fp / 5000 < 0.01, f"fp rate {fp / 5000}"


def test_isotonic_fit_pav_hand_case(spark):
    """Two violations, one at each end: PAV must pool (0.5, 0.0) ->
    0.25 and (1.0, 0.5) -> 0.75, quantized to exact micro-units."""
    from dbt_lakehouse_aws_spark.llmops.mlfit import isotonic_fit

    df = spark.createDataFrame(
        [("g", "1", 1, 2), ("g", "2", 0, 2), ("g", "3", 2, 2), ("g", "4", 1, 2)],
        "grp string, x string, s long, w long",
    )
    got = {
        r["x"]: r["fitted_q"]
        for r in isotonic_fit(
            df, group_cols=["grp"], x_col="x", y_sum_col="s", w_col="w"
        ).collect()
    }
    assert got == {"1": 250000, "2": 250000, "3": 750000, "4": 750000}


def test_quantile_normalize_hand_case_and_identity(spark):
    """Two 3-row groups with disjoint ranges both map onto the same
    pooled positions [1, 3, 30] (that IS the alignment property);
    a single group covering the whole pool is a fixed point."""
    from dbt_lakehouse_aws_spark.llmops.features import quantile_normalize

    rows = [("a", 1, 1), ("a", 2, 2), ("a", 3, 3),
            ("b", 4, 10), ("b", 5, 20), ("b", 6, 30)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = quantile_normalize(
        df, group_col="g", value_col="v", tie_cols=["id"]
    )
    got = {(r["g"], r["v"]): r["qn_value"] for r in out.collect()}
    assert got == {
        ("a", 1): 1, ("a", 2): 3, ("a", 3): 30,
        ("b", 10): 1, ("b", 20): 3, ("b", 30): 30,
    }

    one = spark.createDataFrame(
        [("s", i, v) for i, v in enumerate([7, 3, 3, 99, 12])],
        "g string, id long, v long",
    )
    fixed = quantile_normalize(
        one, group_col="g", value_col="v", tie_cols=["id"]
    )
    assert fixed.filter(F.col("qn_value") != F.col("v")).count() == 0


def test_bfs_hops_hand_graph(spark):
    """Path 1-2-3-4-5 plus isolated edge 8-9: from seed {1}, dists
    are exactly the path positions, capped at max_hops, and the
    disconnected component is absent."""
    from dbt_lakehouse_aws_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "a long, b long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_hops(edges, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}

    # two seeds, min-distance wins; early-exit when frontier drains
    seeds2 = spark.createDataFrame([(5,), (8,)], "node long")
    got2 = {
        r["node"]: r["dist"]
        for r in bfs_hops(edges, seeds2, max_hops=4).collect()
    }
    assert got2 == {5: 0, 8: 0, 4: 1, 9: 1, 3: 2, 2: 3, 1: 4}


def test_label_propagation_two_cliques(spark):
    """Two triangles bridged by one edge: 3 deterministic rounds
    (most-frequent neighbor label, smallest-label ties) land each
    clique on one label — hand-simulated round by round."""
    from dbt_lakehouse_aws_spark.operators.graph import (
        label_propagation_rounds,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        "a long, b long",
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation_rounds(edges, rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 3, 11: 3, 12: 3}


def test_holt_winters_constant_series_fixed_point(spark):
    """On a constant daily series the triple recursion is a fixed
    point: level == the constant, trend == 0, seasonal == 0, and
    the one-step forecast == the constant — exactly, every day."""
    import datetime as dt

    from dbt_lakehouse_aws_spark.operators.temporal import (
        holt_winters_additive,
    )

    rows = []
    for d in range(20):
        day = dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=d)
        rows += [("k", day)] * 5  # 5 events every day
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = holt_winters_additive(df, key_col="event_type", ts_col="ts").collect()
    assert len(out) == 20
    for r in out:
        assert r["level"] == 5.0
        assert r["trend"] == 0.0
        assert r["seasonal"] == 0.0
        assert r["forecast"] == 5.0


def test_pareto_frontier_matches_bruteforce(spark):
    """The per-size-min + strict-running-min decomposition equals
    the O(n²) dominance definition on a hand corpus with ties,
    duplicate coordinates, and a dominated duplicate-size point."""
    pts = [
        (1, 5, 100), (2, 5, 100),   # duplicate frontier coords: both stay
        (3, 5, 120),                # same size, worse price: dominated
        (4, 3, 150), (5, 3, 130),   # size 3 min=130 (pricier than size 5)
        (6, 7, 100),                # equal price, larger size: dominated
        (7, 8, 80),                 # cheaper than everything smaller: stays
        (8, 9, 80),                 # ties 7's price at larger size: dominated
    ]

    def dominated(i):
        ki, si, pi = pts[i]
        return any(
            (sj <= si and pj <= pi and (sj < si or pj < pi))
            for kj, sj, pj in pts
            if kj != ki
        )

    want = sorted(
        (k, s, p) for i, (k, s, p) in enumerate(pts) if not dominated(i)
    )

    from pyspark.sql import functions as F

    df = spark.createDataFrame(pts, "p_partkey long, s int, cents long")
    per_size = df.groupBy("s").agg(F.min("cents").alias("m2"))
    smaller = per_size.select(F.col("s").alias("s2"), F.col("m2").alias("m2b"))
    running = (
        per_size.join(F.broadcast(smaller), F.col("s2") < F.col("s"), "left")
        .groupBy("s", "m2")
        .agg(F.min("m2b").alias("m1"))
    )
    got = sorted(
        (r["p_partkey"], r["s"], r["cents"])
        for r in df.join(F.broadcast(running), "s")
        .filter(
            (F.col("cents") == F.col("m2"))
            & (F.col("m1").isNull() | (F.col("cents") < F.col("m1")))
        )
        .select("p_partkey", "s", "cents")
        .collect()
    )
    assert got == want == [(1, 5, 100), (2, 5, 100), (5, 3, 130), (7, 8, 80)]


def test_zorder_key_interleaves_bits(spark):
    """Morton-key property: z(u, d) interleaves bit lanes (u in even,
    d in odd positions for 2 columns), is monotone within a quadrant,
    and round-trips through de-interleaving."""
    from dbt_lakehouse_aws_spark.operators.relational import zorder_key

    df = spark.createDataFrame(
        [(u, d) for u in range(16) for d in range(16)], "u long, d long"
    ).withColumn("z", zorder_key("u", "d", bits=4))
    rows = {(r["u"], r["d"]): r["z"] for r in df.collect()}

    def morton(u, d):
        z = 0
        for b in range(4):
            z |= ((u >> b) & 1) << (2 * b)
            z |= ((d >> b) & 1) << (2 * b + 1)
        return z

    assert rows == {(u, d): morton(u, d) for u in range(16) for d in range(16)}
    # keys are unique and exactly cover [0, 256)
    assert sorted(rows.values()) == list(range(256))

    import pytest

    with pytest.raises(ValueError):
        zorder_key("u", "d", bits=32)  # 64 bits: signed-long overflow


def test_bounded_closeness_hand_computed(spark):
    """Path graph 1-2-3-4-5: hand-computed harmonic twelfths at
    max_hops=3 (12 per 1-hop, 6 per 2-hop, 4 per 3-hop neighbor)."""
    from dbt_lakehouse_aws_spark.operators.graph import bounded_closeness

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    got = {
        r["node"]: (r["n_reached"], r["harmonic12"])
        for r in bounded_closeness(edges, max_hops=3).collect()
    }
    # node 1: d1={2} d2={3} d3={4} -> 12+6+4; node 3: d1={2,4} d2={1,5}
    assert got == {
        1: (3, 22), 5: (3, 22),
        2: (4, 34), 4: (4, 34),   # 12 + (12+6+4) for the two sides
        3: (4, 36),               # 2*12 + 2*6
    }


def test_bellman_ford_rounds_hand_computed(spark):
    """Weighted diamond: the cheap 2-edge path must beat the direct
    heavy edge once rounds allow it; unreached nodes stay absent."""
    from dbt_lakehouse_aws_spark.operators.graph import bellman_ford_rounds

    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 10), (1, 3, 50), (4, 5, 1)],
        "a long, b long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    one = {r["node"]: r["dist"] for r in
           bellman_ford_rounds(edges, seeds, rounds=1).collect()}
    assert one == {1: 0, 2: 10, 3: 50}  # direct edge only after 1 round
    two = {r["node"]: r["dist"] for r in
           bellman_ford_rounds(edges, seeds, rounds=2).collect()}
    assert two == {1: 0, 2: 10, 3: 20}  # relaxed through 2
    assert 4 not in two and 5 not in two  # disconnected component


def test_cap_neighbors_keeps_strongest_and_symmetrizes(spark):
    """kNN-graph union semantics at k=2: a hub keeps only its two
    strongest edges, but a weaker hub edge SURVIVES when the leaf on
    the other end keeps it (degree <= k keeps everything); an edge
    BOTH endpoints rank below k is the only kind that disappears."""
    from dbt_lakehouse_aws_spark.operators.graph import cap_neighbors

    edges = spark.createDataFrame(
        [
            # hub 1: weights 9 > 8 > 7 to nodes 2, 3, 4
            (1, 2, 9), (1, 3, 8), (1, 4, 7),
            # hubs 5 and 6 each have two strong edges...
            (5, 8, 9), (5, 9, 8), (6, 10, 9), (6, 11, 8),
            # ...and one weak edge to each other: dropped by BOTH
            (5, 6, 1),
        ],
        "a long, b long, shared long",
    )
    got = {(r["a"], r["b"]) for r in
           cap_neighbors(edges, k=2, weight="shared").collect()}
    assert (1, 2) in got and (1, 3) in got
    # node 4 has degree 1, so it keeps (1,4) even though hub 1 ranks
    # it third — union symmetrization retains it
    assert (1, 4) in got
    assert (5, 6) not in got  # below k on BOTH sides: the only drop
    assert {(5, 8), (5, 9), (6, 10), (6, 11)} <= got


def test_weighted_pagerank_hand_computed(spark):
    """Two-node symmetric graph: ranks must converge to 1.0 each
    (every recurrence step yields (1-d) + d*1.0 from the single
    neighbor), and a three-node path concentrates rank on the
    middle node. Dangling sources are rejected."""
    import pytest as _pytest

    from dbt_lakehouse_aws_spark.operators.graph import weighted_pagerank

    pair = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 3)], "src string, dst string, w long"
    )
    got = {r["node"]: r["rank"] for r in weighted_pagerank(pair, iters=5).collect()}
    assert abs(got["a"] - 1.0) < 1e-12 and abs(got["b"] - 1.0) < 1e-12

    path = spark.createDataFrame(
        [("a", "m", 1), ("m", "a", 1), ("b", "m", 1), ("m", "b", 1)],
        "src string, dst string, w long",
    )
    r = {x["node"]: x["rank"] for x in weighted_pagerank(path, iters=8).collect()}
    assert r["m"] > r["a"] and r["m"] > r["b"]
    assert abs(r["a"] - r["b"]) < 1e-12  # symmetric leaves tie exactly

    dangling = spark.createDataFrame(
        [("a", "b", 1)], "src string, dst string, w long"
    )
    with _pytest.raises(ValueError, match="out-edges"):
        weighted_pagerank(dangling, iters=2)


def test_weighted_pagerank_keeps_no_inedge_nodes(spark):
    """ADVICE r6 #1 regression: a->b, b->a, c->a passes the
    out-edge guard (every node is a source) but c never appears as
    a destination. c must STAY in the returned rank vector at
    rank = 1-d, and its contribution into a must persist across
    every iteration (a > b strictly — a receives from both b and c,
    b only from a)."""
    from dbt_lakehouse_aws_spark.operators.graph import weighted_pagerank

    g = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    for iters in (1, 2, 5):
        r = {x["node"]: x["rank"] for x in weighted_pagerank(g, iters=iters).collect()}
        assert set(r) == {"a", "b", "c"}, r
        assert abs(r["c"] - 0.15) < 1e-12  # no in-edges: (1-d) exactly
        assert r["a"] > r["c"] and r["b"] > r["c"]
    # hand-check the first two rounds (the a<->b cycle oscillates):
    #   iter1: a = .15+.85*(1+1) = 1.85,  b = .15+.85*1 = 1.0
    #   iter2: a = .15+.85*(b1+c) = .15+.85*1.15 = 1.1275
    #          b = .15+.85*a1 = .15+.85*1.85 = 1.7225
    one = {x["node"]: x["rank"] for x in weighted_pagerank(g, iters=1).collect()}
    assert abs(one["a"] - 1.85) < 1e-12 and abs(one["b"] - 1.0) < 1e-12
    two = {x["node"]: x["rank"] for x in weighted_pagerank(g, iters=2).collect()}
    assert abs(two["a"] - 1.1275) < 1e-12 and abs(two["b"] - 1.7225) < 1e-12


def test_hyperball_closeness_tracks_exact_on_path_graph(spark):
    """hyperball_closeness (round 10): on a hand path graph the HLL
    ball-size estimates must track the exact per-hop reach within the
    registered audit row's 15% bound at every hop, and the estimates
    must be DETERMINISTIC across invocations (fixed splitmix64 node
    hash — no sketch luck in the oracle-gated booleans)."""
    from dbt_lakehouse_aws_spark.operators.graph import (
        bounded_closeness,
        hyperball_closeness,
    )

    # path 1-2-3-4-5-6: exact 3-hop reach from the ends is 3, middle 5
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "a long, b long"
    )
    exact = {
        r["node"]: r["n_reached"]
        for r in bounded_closeness(edges, max_hops=3).collect()
    }
    got = {r["node"]: r for r in hyperball_closeness(edges, max_hops=3).collect()}
    assert set(got) == set(exact) == {1, 2, 3, 4, 5, 6}
    for node, row in got.items():
        assert abs(row["est3"] - exact[node]) <= 0.15 * exact[node], (
            node,
            row,
            exact[node],
        )
        # per-hop monotone: est1 <= est2 <= est3 (registers only grow)
        assert row["est1"] <= row["est2"] + 1e-9 <= row["est3"] + 2e-9
    again = {
        r["node"]: r for r in hyperball_closeness(edges, max_hops=3).collect()
    }
    for node in got:
        for c in ("est1", "est2", "est3"):
            assert got[node][c] == again[node][c]


def test_hyperball_closeness_chunked_yield_is_identical(spark, monkeypatch):
    """The register reduce yields its keys in bounded chunks: with one
    shuffle partition holding every key and a chunk far below the key
    count, the estimates equal the single-chunk run exactly."""
    from dbt_lakehouse_aws_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(40)] + [(i, i + 1) for i in range(39)],
        "a long, b long",
    )

    def run():
        return {
            r["node"]: tuple(r[1:])
            for r in graph.hyperball_closeness(edges, max_hops=3).collect()
        }

    whole = run()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    monkeypatch.setattr(graph, "_HLL_CHUNK_KEYS", 3)
    try:
        chunked = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert len(whole) == 40 and chunked == whole
