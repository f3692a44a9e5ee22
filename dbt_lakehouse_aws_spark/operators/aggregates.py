"""Aggregation operators (SURVEY.md §2.4 A1-A11).

All shapes here compile to partial+final hash aggregates (map-side
combine), so shuffle volume is O(groups), not O(rows) — the property
that makes them hold at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensemble_avg(
    df: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
    *,
    exclude: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Group-by AVG over many columns (A1), with optional per-column
    conditional exclusion (A2).

    ``exclude={"sv": ("proj_system", "thebat")}`` reproduces the
    reference's ``avg(case when proj_system != 'thebat' then sv end)``
    (stg_proj_preseason_pitching_skills.sql:14-19).
    """
    exclude = exclude or {}
    aggs = []
    for c in value_cols:
        if c in exclude:
            flag_col, flag_val = exclude[c]
            expr = F.avg(F.when(F.col(flag_col) != flag_val, F.col(c)))
        else:
            expr = F.avg(F.col(c))
        aggs.append(expr.alias(c))
    return df.groupBy(*group_cols).agg(*aggs)


def regression_slope(
    df: DataFrame,
    group_cols: Sequence[str],
    x: str | Column,
    y: str | Column,
    *,
    name: str = "slope",
) -> DataFrame:
    """Least-squares slope per group via sufficient statistics (A3).

    Mirrors the reference's hand-rolled form (stg_nfbc_sgp_factors
    .sql:7-30): ``(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)`` with a
    ``nullif`` guard on the denominator. One pass, map-side
    combinable — unlike a two-pass mean-centered formula. Spark's
    built-in ``regr_slope`` computes the same quantity; we keep the
    explicit sufficient-stats arithmetic so the DuckDB oracle can
    run the identical formula (bit-comparable results).
    """
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    stats = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(xc).alias("_sx"),
        F.sum(yc).alias("_sy"),
        F.sum(xc * yc).alias("_sxy"),
        F.sum(xc * xc).alias("_sxx"),
    )
    denom = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    slope = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / F.nullif(
        denom, F.lit(0.0)
    )
    return stats.withColumn(name, slope).drop("_n", "_sx", "_sy", "_sxy", "_sxx")


def pivot_wide(
    df: DataFrame,
    group_cols: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    value_col: str,
    *,
    agg: str = "max",
    prefix: str = "",
) -> DataFrame:
    """Long → wide pivot (A7; reference mart_sgp_factors.sql:7-19
    does it as ``max(case when category='r' then sgp end)``).

    Passing ``pivot_values`` explicitly matters at scale: it skips
    the extra distinct-values job Spark otherwise runs.
    """
    agg_fn = getattr(F, agg)
    wide = df.groupBy(*group_cols).pivot(pivot_col, list(pivot_values)).agg(
        agg_fn(F.col(value_col))
    )
    if prefix:
        for v in pivot_values:
            wide = wide.withColumnRenamed(str(v), f"{prefix}{v}")
    return wide


def unpivot_long(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    *,
    var_name: str = "category",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long unpivot (U2; the reference stacks 10 ``union
    all`` branches, stg_nfbc_sgp_inputs.sql:7-18).

    ``DataFrame.unpivot`` expands rows inside the scan projection —
    one pass, no shuffle, no N× re-read like the union-all original.
    """
    return df.unpivot(list(id_cols), list(value_cols), var_name, value_name)


def percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str | Column,
    ps: Sequence[float],
    *,
    prefix: str = "p",
) -> DataFrame:
    """Per-group exact percentiles (A8, mart_sgp_percentiles.sql:20-34).

    Exact ``percentile`` matches the DuckDB oracle's ``quantile_cont``
    interpolation; a sketch (Trino's qdigest, Spark's Greenwald-Khanna)
    would differ from it within sketch error (SURVEY.md §4 item 4).
    """
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    aggs = [F.percentile(vc, F.lit(p)).alias(f"{prefix}{int(p * 100)}") for p in ps]
    return df.groupBy(*group_cols).agg(*aggs)


def mad_outliers(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier profile via median absolute deviation
    (the outlier rule that survives the outliers themselves, unlike
    mean±kσ): flag rows where ``|x − median| > k · 1.4826 · MAD``.

    Two exact-percentile aggregates with a join back between them
    (median of residuals needs the median first) — each shuffles
    O(groups), the joins are on the group key. Returns per-group
    (median, mad, n_rows, n_outliers).
    """
    gcols = list(group_cols)
    med = df.groupBy(*gcols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("median")
    )
    resid = df.join(med, gcols).withColumn(
        "_ad", F.abs(F.col(value_col) - F.col("median"))
    )
    mad = resid.groupBy(*gcols).agg(
        F.expr("percentile(_ad, 0.5)").alias("mad"),
        F.first("median").alias("median"),
    )
    flagged = resid.drop("median").join(mad, gcols)
    return (
        flagged.groupBy(*gcols)
        .agg(
            F.round(F.first("median"), 6).alias("median"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    F.col("_ad") > F.lit(k) * F.lit(1.4826) * F.col("mad"), 1
                ).otherwise(0)
            ).cast("long")
            .alias("n_outliers"),
        )
    )


def distinct_sketch_rollup(
    df: DataFrame,
    *,
    group_col: str,
    value_col: str,
    lg_k: int = 12,
    total_sentinel: str = "__total__",
) -> DataFrame:
    """Mergeable count-distinct via Apache DataSketches HLL
    (``hll_sketch_agg`` / ``hll_union_agg``, Spark 3.5+): build one
    sketch per group, then derive the GLOBAL distinct estimate by
    merging the per-group sketches — never rescanning the raw data.

    This is the sketch-infrastructure pattern a 100 TB warehouse
    needs: per-(day, country) sketches persist as bytes (~2^lg_k per
    group), and any coarser rollup (per-day, per-country, grand
    total) is a union of sketches, turning a full-table
    count-distinct into a KB-sized merge. Returns the per-group rows
    plus a rollup row whose estimate comes from the merge.

    ``group_key`` is stringified (so non-string group columns union
    cleanly with the sentinel) and the rollup sentinel is
    parameterizable — pick one outside the group domain if a genuine
    group could be named ``__total__``.
    """
    sk = df.groupBy(group_col).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("_sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    per_group = sk.select(
        F.col(group_col).cast("string").alias("group_key"),
        F.hll_sketch_estimate("_sk").cast("long").alias("distinct_est"),
        F.col("n_rows").cast("long"),
    )
    total = sk.agg(
        F.lit(total_sentinel).alias("group_key"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("_sk"), F.lit(False)))
        .cast("long")
        .alias("distinct_est"),
        F.sum("n_rows").cast("long").alias("n_rows"),
    )
    return per_group.unionByName(total)


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    *,
    k: int = 20,
    capacity: int = 512,
) -> DataFrame:
    """Top-k frequent items via per-partition Misra-Gries summaries +
    exact recount of the merged candidate set.

    The exact ``groupBy(value).count()`` shuffles O(distinct values);
    fine for vocab-bounded columns, hostile for ~unbounded ones
    (URLs, n-grams, user agents at 100 TB). Misra-Gries bounds the
    shuffle instead at O(partitions · capacity): each partition
    streams its rows through a ``capacity``-counter summary
    (classic guarantee: any item with partition frequency >
    n_partition/capacity survives), the tiny candidate union is
    broadcast back, and ONE filtered exact count ranks the true
    frequencies — so reported counts are exact, and the top-k is
    provably complete whenever the true k-th frequency exceeds
    n/capacity (vastly true for Zipfian data with capacity >> k).

    Two map-side passes, no O(distinct) shuffle, deterministic
    (count desc, value asc) ordering.
    """
    from collections.abc import Iterator

    import pandas as pd

    def mg_summaries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # mergeable Misra-Gries (Agarwal et al.): vectorized exact
        # counts per Arrow batch merged into the summary, then one
        # threshold-eviction (subtract the (capacity+1)-th largest
        # count, drop non-positives) whenever the summary overflows —
        # same frequency guarantee as the per-row algorithm, no
        # Python per-row loop.
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[value_col].dropna().value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            if len(counters) > capacity:
                import numpy as np

                cnts = np.fromiter(counters.values(), dtype=np.int64)
                thr = np.partition(cnts, len(cnts) - capacity - 1)[len(cnts) - capacity - 1]
                counters = {k: c - thr for k, c in counters.items() if c > thr}
        if counters:
            yield pd.DataFrame({value_col: list(counters.keys())})

    vtype = df.schema[value_col].dataType.simpleString()
    candidates = (
        df.select(value_col)
        .mapInPandas(mg_summaries, f"{value_col} {vtype}")
        .distinct()
    )
    return (
        df.join(F.broadcast(candidates), value_col, "left_semi")
        .groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc(value_col))
        .limit(k)
    )


def rollup_tree(
    df: DataFrame,
    *,
    time_col: str,
    measures: dict[str, Column],
    grains: Sequence[str] = ("day", "week", "month"),
    reagg: dict[str, Callable[[str], Column]] | None = None,
) -> DataFrame:
    """Multi-granularity aggregate tree: the FINEST grain aggregates
    the raw rows once; every coarser grain re-aggregates the finer
    grain's rows instead of rescanning raw. At 100 TB that's the
    difference between one full scan and |grains| of them — the
    daily frame is ~5 orders of magnitude smaller than the raw
    events, so the week/month passes are effectively free.

    ``measures`` maps output name → aggregate over the RAW rows.
    Coarser grains re-aggregate each measure with ``F.sum`` by
    default, which is only correct for sum-composable measures
    (sums and counts — a count of raws re-aggregates as a SUM of
    the daily counts). For min/max measures pass ``reagg``: output
    name → (colname → Column), e.g. ``{"peak": F.max}``, and that
    function is used at the coarser grains instead (ADVICE r3 —
    summing daily maxes is silently wrong). Averages and distincts
    compose under NO per-measure re-aggregation: use sum+count
    pairs, or a mergeable sketch (``distinct_sketch_rollup``).

    Every coarser grain re-aggregates the FINEST grain's rows (not
    the previous grain's): calendar grains don't all nest — a week
    straddles month boundaries, so month-from-week would misassign
    up to six days; month-from-day is exact, and the day frame is
    already the small one.

    Returns one frame: (grain, bucket, <measures...>), bucket =
    ``date_trunc(grain)`` cast to DATE (Monday-start weeks — the
    cross-engine convention).
    """
    finest, *coarser = list(grains)
    base = df.groupBy(
        F.date_trunc(finest, F.col(time_col)).cast("date").alias("bucket")
    ).agg(*[expr.alias(name) for name, expr in measures.items()])
    names = list(measures)
    reagg = reagg or {}
    unknown = set(reagg) - set(names)
    if unknown:
        raise ValueError(f"reagg keys not in measures: {sorted(unknown)}")
    out = base.select(F.lit(finest).alias("grain"), "bucket", *names)
    for g in coarser:
        rolled = base.groupBy(
            F.date_trunc(g, F.col("bucket")).cast("date").alias("bucket")
        ).agg(*[reagg.get(n, F.sum)(n).alias(n) for n in names])
        out = out.unionByName(
            rolled.select(F.lit(g).alias("grain"), "bucket", *names)
        )
    return out
