"""Projection / predicate helpers (SURVEY.md §2.2 P1-P13).

Thin, declarative wrappers — everything stays a Catalyst expression
so filter pushdown, column pruning, and codegen apply untouched.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cast_columns(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """Progressive typing: string-at-source → typed-at-stage (P1).

    Reproduces the reference's stage-layer ``cast(x as double/int)``
    blocks (stg_nfbc_ranked_standings.sql:12-28).
    """
    return df.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})


def when_chain(cases: Sequence[tuple[Column, object]], default: object = None) -> Column:
    """Ordered CASE WHEN chain (P12).

    Order is load-bearing: the reference's position bucketing relies
    on first-match-wins (``'%C%'`` before ``'%2B%'``,
    stg_proj_preseason_hitting_sgp_oc.sql:45-58).
    """
    if not cases:
        return F.lit(default)
    cond, val = cases[0]
    expr = F.when(cond, val)
    for cond, val in cases[1:]:
        expr = expr.when(cond, val)
    return expr.otherwise(default)


def null_padded_union(dfs: Sequence[DataFrame], schema: dict[str, str]) -> DataFrame:
    """UNION ALL with typed-NULL schema alignment (U4).

    The reference unions hitters ∪ pitchers with explicit
    ``null as col`` placeholders (mart_preseason_overall_rankings_
    50s.sql:7-101). Each input gains typed null columns for whatever
    it lacks, then unionByName keeps positional bugs impossible.
    """
    aligned = []
    for df in dfs:
        missing = {c: F.lit(None).cast(t) for c, t in schema.items() if c not in df.columns}
        aligned.append(df.withColumns(missing).select(*schema.keys()))
    out = aligned[0]
    for df in aligned[1:]:
        out = out.unionByName(df)
    return out


def merge_upsert(target: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """dbt ``materialized='incremental'`` semantics as a batch
    operator: rows from ``updates`` replace same-key rows in
    ``target``; unmatched target rows pass through (MERGE ... WHEN
    MATCHED UPDATE WHEN NOT MATCHED INSERT, minus the storage
    engine).

    One left-anti join (broadcast when updates are small — the
    normal incremental case: a day's delta against years of
    history) + a union. Schemas must match by name. On a real lake
    this lands as Delta/Iceberg MERGE; the plan shape is the same.
    """
    keep = target.join(updates.select(*keys).distinct(), list(keys), "left_anti")
    return updates.unionByName(keep)


def profile_columns(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    exact_distinct: bool = False,
) -> DataFrame:
    """Data-quality profile: one row per column with row/null counts,
    distinct cardinality, and min/max (stringified for a uniform
    schema) — the "PROFILE TABLE" every ingestion pipeline runs
    before trusting a new drop.

    Deliberately one narrow aggregate per column, unioned — NOT one
    wide aggregate: N ``countDistinct`` in a single agg compile to an
    Expand that duplicates every input row N times before the
    shuffle (the Q21 lesson, PERF.md), while N independent aggs each
    read one column (columnar scan pruning) and shuffle one partial
    row per task. ``exact_distinct=False`` swaps in HLL++
    (approx_count_distinct) — the right default at 100 TB.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError(
            "profile_columns needs at least one column (got an empty "
            "column list / zero-column DataFrame)"
        )
    parts = []
    for c in cols:
        distinct = (
            F.countDistinct(F.col(c)) if exact_distinct else F.approx_count_distinct(F.col(c))
        )
        parts.append(
            df.agg(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulls"),
                distinct.cast("long").alias("n_distinct"),
                F.min(F.col(c)).cast("string").alias("min_val"),
                F.max(F.col(c)).cast("string").alias("max_val"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_digest(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    *,
    portable: bool = False,
) -> DataFrame:
    """Order-insensitive content digest of a relation: one row with
    ``(n_rows, digest)`` where digest = Σ hash(row) mod 2^61-1 over
    the canonical string form of the selected columns.

    This is the migration/replication equality check at 100 TB: two
    tables hold the same multiset of rows iff (count, digest) match
    (up to hash collision odds ~n²/2^60) — verified with one scan per
    side, no global sort, no shuffle beyond the final scalar
    aggregate, and partition layout can't affect the result because
    addition commutes. ``portable=True`` (md5-prefix hash) lets an
    external SQL engine compute the identical digest for cross-engine
    migration sign-off; the default xxhash64 is the cheap
    same-engine path.

    NULLs are canonicalized to a sentinel before hashing (concat_ws
    silently drops them, which would make (NULL, 'x') collide with
    ('x', NULL) across columns).
    """
    from dbt_lakehouse_aws_spark.llmops.dedup import _portable_hash60

    use = list(cols) if cols is not None else list(df.columns)
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in use
    ]
    row_repr = F.concat_ws("\x1f", *parts)
    h = _portable_hash60(row_repr) if portable else F.xxhash64(row_repr)
    m = (1 << 61) - 1
    return df.select(h.alias("_h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.pmod(F.sum(F.col("_h").cast("decimal(38,0)")), F.lit(m))
        .cast("long")
        .alias("digest"),
    )


def table_diff(
    a: DataFrame,
    b: DataFrame,
    *,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Reconciliation diff of two same-schema tables — the migration/
    backfill validation primitive: one row per key with
    ``diff_status`` ∈ {added, removed, changed, unchanged} plus both
    sides' compared values.

    added = key only in ``b``; removed = only in ``a``; changed =
    in both with any compared column differing (NULL-safe: NULL vs
    NULL is equal, NULL vs value differs). ONE full-outer hash join
    on the keys — no collect, no per-column passes; at 100 TB this is
    the same shuffle a MERGE would pay."""
    if compare_cols is None:
        compare_cols = [c for c in a.columns if c not in set(keys)]
    # presence is detected via a constant marker column, not data
    # columns (a row whose compared values are all NULL still exists)
    la = a.select(
        *keys, *[F.col(c).alias(f"_a_{c}") for c in compare_cols]
    ).withColumn("_in_a", F.lit(True))
    lb = b.select(
        *keys, *[F.col(c).alias(f"_b_{c}") for c in compare_cols]
    ).withColumn("_in_b", F.lit(True))
    j = la.join(lb, list(keys), "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
    status = (
        F.when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.col("_in_b").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, status.alias("diff_status"),
                    *[F.col(f"_a_{c}") for c in compare_cols],
                    *[F.col(f"_b_{c}") for c in compare_cols])


def zorder_key(*cols: Column | str, bits: int = 16) -> Column:
    """Z-order (Morton) interleaved sort key over ``cols`` — the
    multi-dimensional clustering primitive: sorting a write by this
    key keeps rows close in EVERY dimension physically adjacent, so
    per-file/row-group min-max bounds stay narrow on ALL the
    interleaved columns at once, and multi-dimensional predicates
    prune storage the way one-dimensional sort only lets the leading
    column prune (Delta/Iceberg OPTIMIZE ZORDER semantics; measured
    in PERF.md, probe #24).

    Inputs must be non-negative integers < 2**bits (bucket/rank/
    quantize upstream — ntile_scalable or a fixed grid both work);
    ``bits * len(cols)`` must fit a signed long. Pure JVM bit
    arithmetic (shift/and/or per bit-lane), whole-stage codegen, no
    Python in the loop.
    """
    n = len(cols)
    if not n:
        raise ValueError("zorder_key needs at least one column")
    if bits * n > 63:
        raise ValueError(f"bits*cols = {bits * n} exceeds a signed long")
    out = None
    for ci, c in enumerate(cols):
        col = (F.col(c) if isinstance(c, str) else c).cast("long")
        for b in range(bits):
            lane = F.shiftleft(
                F.shiftright(col, b).bitwiseAND(F.lit(1)), b * n + ci
            )
            out = lane if out is None else out.bitwiseOR(lane)
    return out
