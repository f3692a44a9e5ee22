"""Round-7 queries, promoted from staging (formerly
``staged_r7.py`` — the second 50, in original file order, of the
round-5 staging corpus) into the main registry, per the ROUND-7/8
PLAN comment in ``standard_queries.py``, PLUS the two capped wedge
twins moved up from ``staged_r10.py`` on the round-6 verdict
("register the capped twins now, not at the round-10 rotation").

Definitions accumulate into module-local dicts via the ``_promoted``
decorator and are appended to ``standard_queries._REGISTRY`` by the
loop at the END of this file — after the placeholder-oracle fixups
(bfs / LPA / CDC build their unrolled SQL post-definition), so every
registration carries its final oracle. ``standard_queries`` imports
this module before it builds the driver window, exactly like
queries_r5/r6. Every entry was oracle-verified at sf0.001 AND
sf0.01, vanilla-ANSI checked, plan-linted, sf0.1-timed, and
sf1.0-audited under the 240 s watchdog while in staging BEFORE
this promotion.
"""

from __future__ import annotations

#: name → oracle SQL, mirrors standard_queries' registry shape
_PROMOTED_ORACLES: dict[str, str] = {}
#: name → (spark, sf_dir) -> DataFrame
_PROMOTED_QUERIES: dict[str, object] = {}


def _promoted(name: str, oracle: str):
    def deco(fn):
        _PROMOTED_ORACLES[name] = oracle
        _PROMOTED_QUERIES[name] = fn
        return fn

    return deco


from pyspark.sql import DataFrame, SparkSession, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dbt_lakehouse_aws_spark.localframe import local_frame  # noqa: E402
from dbt_lakehouse_aws_spark.operators.coactivity import (  # noqa: E402
    coactivity_capped_sql as _coactivity_capped_sql,
    coactivity_edges_sql as _coactivity_edges_sql,
)

@_promoted(
    "null_conditional_gauntlet_customer",
    """
    SELECT c_custkey,
           nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'N/A') AS seg_filled,
           ifnull(nullif(c_mktsegment, 'BUILDING'), c_name) AS seg_or_name,
           CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
                THEN 'present' ELSE 'absent' END AS nvl2_like,
           (nullif(c_mktsegment, 'BUILDING')
              IS NOT DISTINCT FROM CAST(NULL AS VARCHAR)) AS nullsafe_eq_null,
           greatest(c_acctbal, 0.0,
                    CAST(NULL AS DOUBLE)) AS bal_floor0,
           least(c_acctbal, 5000.0,
                 CAST(NULL AS DOUBLE)) AS bal_cap5k,
           (c_acctbal IS NULL) AS bal_is_null
    FROM customer
    WHERE c_custkey % 47 = 0
    ORDER BY c_custkey
    """,
)
def null_conditional_gauntlet_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NULL-handling / conditional gauntlet with a PLANTED null
    (``nullif`` on one segment — the source tables carry none):
    coalesce / ifnull backfills, an nvl2-shaped presence branch
    (spelled as CASE — DuckDB has no nvl2), null-safe equality
    (``<=>`` ↔ IS NOT DISTINCT FROM), and greatest/least with an
    explicit NULL argument pinning the skip-NULL semantics BOTH
    engines share (both follow Postgres, not the SQL-standard
    propagate-NULL)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") % 47 == 0)
    seg_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    null_d = F.lit(None).cast("double")
    return c.select(
        "c_custkey",
        seg_null.alias("seg_or_null"),
        F.coalesce(seg_null, F.lit("N/A")).alias("seg_filled"),
        F.ifnull(seg_null, F.col("c_name")).alias("seg_or_name"),
        F.nvl2(seg_null, F.lit("present"), F.lit("absent")).alias(
            "nvl2_like"
        ),
        seg_null.eqNullSafe(F.lit(None).cast("string")).alias(
            "nullsafe_eq_null"
        ),
        F.greatest(F.col("c_acctbal"), F.lit(0.0), null_d).alias(
            "bal_floor0"
        ),
        F.least(F.col("c_acctbal"), F.lit(5000.0), null_d).alias(
            "bal_cap5k"
        ),
        F.isnull("c_acctbal").alias("bal_is_null"),
    ).orderBy("c_custkey")



@_promoted(
    "set_ops_customers",
    """
    WITH a AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE extract(year FROM o_orderdate) = 1995
    ),
    b AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
    i AS (SELECT k FROM a INTERSECT SELECT k FROM b),
    oa AS (SELECT k FROM a EXCEPT SELECT k FROM b),
    ob AS (SELECT k FROM b EXCEPT SELECT k FROM a),
    u AS (SELECT k FROM a UNION SELECT k FROM b)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM i) AS n_both,
           (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) FROM i) AS sum_both,
           (SELECT CAST(count(*) AS BIGINT) FROM oa) AS n_only_active,
           (SELECT CAST(count(*) AS BIGINT) FROM ob) AS n_only_rich,
           (SELECT CAST(count(*) AS BIGINT) FROM u) AS n_union
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational set-operator coverage — INTERSECT / EXCEPT (both
    directions) / UNION DISTINCT between the 1995-active customer
    keyset and the high-balance keyset, with a value checksum on the
    intersection. Spark plans these as the dedicated left-semi /
    left-anti / aggregate forms; the counts pin the distinct
    semantics (vs the ALL variants used by the stream-equivalence
    twins)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    a = (
        T(spark, sf_dir, "orders")
        .filter(F.year(F.col("o_orderdate")) == 1995)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    b = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("k"))
    )
    i = a.intersect(b)
    stats = i.agg(
        F.count(F.lit(1)).cast("long").alias("n_both"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sum_both"),
    )
    oa = a.subtract(b).agg(
        F.count(F.lit(1)).cast("long").alias("n_only_active")
    )
    ob = b.subtract(a).agg(
        F.count(F.lit(1)).cast("long").alias("n_only_rich")
    )
    u = a.union(b).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_union")
    )
    return (
        stats.crossJoin(F.broadcast(oa))
        .crossJoin(F.broadcast(ob))
        .crossJoin(F.broadcast(u))
    )


@_promoted(
    "acid_rename_column_events",
    """
    WITH src AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type IN ('view', 'click')
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS amount_cents
    FROM src
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def acid_rename_column_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only RENAME COLUMN under the driver gate
    (sources/acid.py::rename_column — Delta column-mapping
    semantics): commit the 'view' slice with a ``cents`` column,
    rename it to ``amount_cents`` (ZERO data files rewritten — the
    map lives in the log), then APPEND the 'click' slice already
    carrying the logical name. The read-back aggregate must equal
    the oracle over both slices — wrong translation in either the
    rename, the logical append, or the logical read shifts sums; the
    asserted file-set identity is pinned by
    test_acid.py::test_rename_column_metadata_only_roundtrip."""
    import tempfile
    import uuid as _uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    t = AcidTable(
        spark,
        tempfile.mkdtemp(prefix=f"ren_{_uuid.uuid4().hex[:8]}_") + "/t",
    )
    t.write(ev.filter(F.col("event_type") == "view"))
    t.rename_column("cents", "amount_cents")
    t.write(
        ev.filter(F.col("event_type") == "click").withColumnRenamed(
            "cents", "amount_cents"
        ),
        mode="append",
    )
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("amount_cents").cast("long").alias("amount_cents"),
        )
        .orderBy("event_type")
    )


@_promoted(
    "recursive_cte_part_closure",
    """
    WITH RECURSIVE parents AS (
      SELECT p_partkey AS child, p_partkey // 8 AS parent
      FROM part WHERE p_partkey // 8 >= 1
    ),
    anc(node, anc, depth) AS (
      SELECT child, parent, 1 FROM parents
      UNION ALL
      SELECT a.node, p.parent, a.depth + 1
      FROM anc a JOIN parents p ON p.child = a.anc
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(anc) AS BIGINT) AS anc_checksum
    FROM anc
    GROUP BY depth
    ORDER BY depth
    """,
)
def recursive_cte_part_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE on Spark 4 (WITH RECURSIVE landed in
    Spark 4.0 — the engine now runs the same fixpoint SQL DuckDB
    does): transitive-closure of the part hierarchy (parent =
    partkey div 8, the relation part_hierarchy_rollup also uses),
    aggregated per ancestor depth with a checksum. Until now every
    fixpoint here was either unrolled (pagerank/logreg oracles) or
    pointer-doubled (operators/graph.py closure); this row pins that
    the DECLARATIVE recursive form itself is part of the engine's
    SQL surface, iteration count log₈(parts) ≈ 6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    view = f"part_rec_{abs(hash(sf_dir)) % 10**8}"
    T(spark, sf_dir, "part").createOrReplaceTempView(view)
    return spark.sql(
        f"""
        WITH RECURSIVE parents AS (
          SELECT p_partkey AS child, p_partkey DIV 8 AS parent
          FROM {view} WHERE p_partkey DIV 8 >= 1
        ),
        anc(node, anc, depth) AS (
          SELECT child, parent, 1 AS depth FROM parents
          UNION ALL
          SELECT a.node, p.parent, a.depth + 1
          FROM anc a JOIN parents p ON p.child = a.anc
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(anc) AS BIGINT) AS anc_checksum
        FROM anc
        GROUP BY depth
        ORDER BY depth
        """
    )


@_promoted(
    "lateral_topk_customers",
    """
    SELECT n.n_name, l.c_custkey, l.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey ASC
      LIMIT 2
    ) AS l
    ORDER BY n.n_name, l.c_acctbal DESC, l.c_custkey
    """,
)
def lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — per nation, its top-2 customers
    by balance, expressed as the SQL-standard lateral join BOTH
    engines run verbatim (Spark's LateralJoin operator decorrelates
    it; the per-group ORDER BY + LIMIT inside the lateral is the
    declarative form of w3's rank-filter top-k). Deterministic by
    the (acctbal DESC, custkey ASC) total order."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    suffix = f"lat_{abs(hash(sf_dir)) % 10**8}"
    T(spark, sf_dir, "nation").createOrReplaceTempView(f"nation_{suffix}")
    T(spark, sf_dir, "customer").createOrReplaceTempView(
        f"customer_{suffix}"
    )
    return spark.sql(
        f"""
        SELECT n.n_name, l.c_custkey, l.c_acctbal
        FROM nation_{suffix} n, LATERAL (
          SELECT c_custkey, c_acctbal
          FROM customer_{suffix}
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey ASC
          LIMIT 2
        ) AS l
        ORDER BY n.n_name, l.c_acctbal DESC, l.c_custkey
        """
    )


@_promoted(
    "window_frame_gauntlet_orders",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             nullif(o_orderstatus, 'O') AS status_or_null
      FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderkey,
           CAST(lag(cents, 2, -1) OVER w AS BIGINT) AS lag2_def,
           CAST(lead(cents, 1, 0) OVER w AS BIGINT) AS lead1_def,
           first_value(status_or_null IGNORE NULLS) OVER w AS first_status,
           nth_value(cents, 3) OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS third_cents,
           CAST(sum(cents) OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_orderkey
                                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rows_sum3,
           CAST(sum(cents) OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_orderkey
                                 RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS range_sum100
    FROM t
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
    ORDER BY o_orderkey
    """,
)
def window_frame_gauntlet_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame breadth gauntlet on a deterministic key subset:
    lag/lead with explicit DEFAULTS, first_value IGNORE NULLS over a
    planted-null column, nth_value on the full-partition frame, a
    ROWS sliding frame, and a numeric RANGE frame (100-key band) —
    the frame vocabulary beyond the rank/percent family already
    pinned by w1–w10. The unique orderkey makes every frame
    deterministic."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    t = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t.select(
        "o_orderkey",
        F.lag("cents", 2, -1).over(w).cast("long").alias("lag2_def"),
        F.lead("cents", 1, 0).over(w).cast("long").alias("lead1_def"),
        F.first_value("status_or_null", ignoreNulls=True)
        .over(w)
        .alias("first_status"),
        F.nth_value("cents", 3).over(full).alias("third_cents"),
        F.sum("cents")
        .over(w.rowsBetween(-2, Window.currentRow))
        .cast("long")
        .alias("rows_sum3"),
        F.sum("cents")
        .over(
            Window.partitionBy("o_orderpriority")
            .orderBy("o_orderkey")
            .rangeBetween(-100, Window.currentRow)
        )
        .cast("long")
        .alias("range_sum100"),
    ).orderBy("o_orderkey")


_PIVOT_SQL_BODY = """
    WITH t AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM {events}
    ),
    p AS (
      SELECT * FROM (SELECT day, event_type, cents FROM t)
      PIVOT (sum(cents) FOR event_type IN
             ('click' AS click, 'view' AS view, 'purchase' AS purchase,
              'signup' AS signup, 'error' AS error))
    ),
    u AS (
      SELECT * FROM p
      UNPIVOT (cents FOR event_type IN (click, view, purchase, signup, error))
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM u
    GROUP BY event_type
    ORDER BY event_type
"""


@_promoted(
    "pivot_unpivot_native_events",
    _PIVOT_SQL_BODY.format(events="events"),
)
def pivot_unpivot_native_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE SQL PIVOT → UNPIVOT round-trip (the declarative forms —
    a7 pins the max(CASE) spelling, u2 the stacked-union unpivot):
    daily per-type cent totals pivot to one column per event type,
    unpivot back (NULL cells dropped by UNPIVOT's default on BOTH
    engines — that's the semantics under test), and re-aggregate.
    The SAME SQL text runs on Spark and DuckDB."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    view = f"events_piv_{abs(hash(sf_dir)) % 10**8}"
    T(spark, sf_dir, "events").createOrReplaceTempView(view)
    return spark.sql(_PIVOT_SQL_BODY.format(events=view))


@_promoted(
    "variant_extract_events",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS n_k,
           CAST(sum(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT semi-structured type: the JSON payload parses
    ONCE into the binary variant encoding (``parse_json``), then
    typed paths come out with ``variant_get`` — the engine's answer
    to schemaless columns without per-query string re-parsing (the
    third JSON path here, after f_json_props' portable regex and
    json_typed's from_json struct). The oracle runs DuckDB's JSON
    type with the same '$.k' path."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("k").cast("long").alias("n_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


@_promoted(
    "collation_groups_parts",
    """
    WITH mixed AS (
      SELECT p_partkey,
             CASE p_partkey % 3
               WHEN 0 THEN upper(p_name)
               WHEN 1 THEN p_name
               ELSE concat(upper(substr(p_name, 1, 1)), substr(p_name, 2))
             END AS name_mixed
      FROM part
    ),
    folded AS (
      SELECT lower(name_mixed) AS grp, name_mixed FROM mixed
    ),
    per_group AS (
      SELECT grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT name_mixed) AS BIGINT) AS casings
      FROM folded GROUP BY grp
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(max(casings) AS BIGINT) AS max_casings,
           CAST(sum(CASE WHEN casings > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi_casing
    FROM per_group
    """,
)
def collation_groups_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION support: grouping on a ``STRING COLLATE
    UTF8_LCASE`` column — case-insensitive comparison at the TYPE
    level, no lower() rewrite in the query — over deterministically
    planted casing variants. Group-key casing is a nondeterministic
    representative under collation, so the outputs are casing-free
    scalars; the oracle computes the identical relation by explicit
    lower() folding. (DuckDB collations exist but differ in reach —
    the fold is the portable spelling.)"""
    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part")
    mixed = p.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 3 == 0, F.upper("p_name"))
        .when(F.col("p_partkey") % 3 == 1, F.col("p_name"))
        .otherwise(
            F.concat(
                F.upper(F.substring("p_name", 1, 1)),
                F.expr("substr(p_name, 2)"),
            )
        )
        .alias("name_mixed"),
    )
    ci = mixed.withColumn(
        "grp", F.expr("CAST(name_mixed AS STRING COLLATE UTF8_LCASE)")
    )
    per_group = ci.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("name_mixed").cast("long").alias("casings"),
    )
    return per_group.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("casings").cast("long").alias("max_casings"),
        F.sum(F.when(F.col("casings") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_casing"),
    )


@_promoted(
    "quantile_normalize_docs",
    """
    WITH base AS (SELECT source, doc_id, n_chars FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    p AS (
      SELECT n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) AS prn
      FROM base
    ),
    g AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ng
      FROM base
    ),
    m AS (
      SELECT g.source, g.n_chars, g.r, g.ng,
             CASE WHEN g.ng = 1 THEN (t.n + 1) // 2
                  ELSE (g.r - 1) * (t.n - 1) // (g.ng - 1) + 1
             END AS j
      FROM g CROSS JOIN tot t
    ),
    q AS (
      SELECT m.source, m.n_chars, m.r, m.ng, p.n_chars AS qn
      FROM m JOIN p ON p.prn = m.j
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS raw_sum,
           CAST(sum(qn) AS BIGINT) AS qn_sum,
           CAST(min(qn) AS BIGINT) AS qn_min,
           CAST(max(qn) AS BIGINT) AS qn_max,
           CAST(max(CASE WHEN r = (ng + 1) // 2 THEN n_chars END)
                AS BIGINT) AS raw_median,
           CAST(max(CASE WHEN r = (ng + 1) // 2 THEN qn END)
                AS BIGINT) AS qn_median
    FROM q GROUP BY source ORDER BY source
    """,
)
def quantile_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source document lengths onto
    the pooled corpus distribution (llmops/features.py::
    quantile_normalize — x -> Q_pool(F_source(x)), the cross-source
    score-alignment transform). The engine runs TWO scalable
    two-pass global ranks (never a per-source one-task window) plus
    a BIGINT position join; the oracle spells the same mapping with
    DuckDB's native windows. The integer position rule
    j = (r-1)(N-1) div (ng-1) + 1 makes every normalized value an
    ACTUAL pooled value — exact BIGINT end to end. Per source:
    count, raw/normalized sums, normalized range, raw and
    normalized lower medians (the medians land near the pooled
    median for EVERY source — that's the property the transform
    exists for)."""
    from dbt_lakehouse_aws_spark.llmops.features import quantile_normalize
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    qn = quantile_normalize(
        d, group_col="source", value_col="n_chars", tie_cols=["doc_id"]
    )
    at_median = F.expr("group_rank = (group_n + 1L) div 2")
    return (
        qn.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("raw_sum"),
            F.sum("qn_value").cast("long").alias("qn_sum"),
            F.min("qn_value").cast("long").alias("qn_min"),
            F.max("qn_value").cast("long").alias("qn_max"),
            F.max(F.when(at_median, F.col("n_chars")))
            .cast("long")
            .alias("raw_median"),
            F.max(F.when(at_median, F.col("qn_value")))
            .cast("long")
            .alias("qn_median"),
        )
        .orderBy("source")
    )


@_promoted(
    "bfs_hops_users",
    """
    WITH RECURSIVE PLACEHOLDER_EDGES,
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    nodes AS (SELECT DISTINCT u AS node FROM und),
    seeds AS (SELECT node FROM nodes WHERE node % 97 = 0),
    walk(node, dist) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT u.v, w.dist + 1
      FROM walk w JOIN und u ON u.u = w.node
      WHERE w.dist < 4
    ),
    d AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist
      FROM walk GROUP BY node
    )
    SELECT dist,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM d GROUP BY dist ORDER BY dist
    """,
)
def bfs_hops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS (operators/graph.py::bfs_hops) on
    the shared>=3 co-activity graph: hop distance <=4 from the
    deterministic seed set (user_id % 97 = 0 among graph nodes) —
    the "everything within k hops of the trusted set" crawl
    primitive. The engine expands a frontier (one O(edges) join per
    round, frontier-only, localCheckpoint-truncated); the oracle is
    DuckDB's native recursive CTE with its UNION-dedup fixpoint —
    two different BFS evaluation strategies agreeing on the exact
    per-distance node counts and id checksums.

    CALIBRATION-CLASS (the exact-vs-LSH dedup pattern): frontier
    expansion is O(edges)/round, but the RAW co-activity graph's
    edge count densifies ~quadratically with slot density (76 s /
    7.6× per-unit at sf1.0 in BENCH_sf1 r7). The bounded-degree
    production form is any of the capped-graph rows — the identical
    ``cap_neighbors`` prelude feeds ``kcore_capped_users`` /
    ``lpa_communities_capped_users`` (queries_r8.py), and BFS over
    that kNN graph costs O(n·k)/round; this exact row stays
    registered to calibrate them against the raw graph."""
    from dbt_lakehouse_aws_spark.operators.graph import bfs_hops
    from dbt_lakehouse_aws_spark.operators.coactivity import coactivity_edges as _coactivity_edges

    edges = _coactivity_edges(spark, sf_dir, min_shared=3)
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select("b"))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 97 == 0)
    d = bfs_hops(edges, seeds, src="a", dst="b", max_hops=4)
    return (
        d.groupBy("dist")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("node_checksum"),
        )
        .orderBy("dist")
    )


_PROMOTED_ORACLES["bfs_hops_users"] = _PROMOTED_ORACLES["bfs_hops_users"].replace(
    "PLACEHOLDER_EDGES", _coactivity_edges_sql(3).strip().rstrip()
)


def _lpa_oracle_sql(rounds: int) -> str:
    parts = [
        _coactivity_edges_sql(3).strip().rstrip(),
        """
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM und)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
    v{i} AS (
      SELECT u.u AS node, p.label, count(*) AS c
      FROM und u JOIN l{i - 1} p ON p.node = u.v
      GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM v{i}) WHERE rn = 1
    )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT label AS community,
           CAST(count(*) AS BIGINT) AS size,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM l{rounds} GROUP BY label
    ORDER BY size DESC, community ASC LIMIT 50
    """
    )


@_promoted("lpa_communities_users", "PLACEHOLDER_LPA")
def lpa_communities_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (operators/
    graph.py::label_propagation_rounds), 3 fixed rounds on the
    shared>=3 co-activity graph — deterministic LPA (most-frequent
    neighbor label, smallest-label ties) as a pure function of the
    edge list. The engine's per-round argmax is one map-side-
    combinable max(struct(count, -label)) aggregate — no per-node
    window; the oracle unrolls the identical 3 rounds with
    row_number argmax. Top-50 communities by size."""
    from dbt_lakehouse_aws_spark.operators.graph import (
        label_propagation_rounds,
    )
    from dbt_lakehouse_aws_spark.operators.coactivity import coactivity_edges as _coactivity_edges

    edges = _coactivity_edges(spark, sf_dir, min_shared=3)
    labels = label_propagation_rounds(edges, src="a", dst="b", rounds=3)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("size"),
            F.min("node").cast("long").alias("min_node"),
            F.sum("node").cast("long").alias("node_checksum"),
        )
        .orderBy(F.desc("size"), F.asc("community"))
        .limit(50)
    )


_PROMOTED_ORACLES["lpa_communities_users"] = _lpa_oracle_sql(3)


@_promoted(
    "chunk_overlap_docs",
    """
    WITH RECURSIVE gs(i) AS (
      SELECT 0
      UNION ALL
      SELECT i + 1 FROM gs
      WHERE i + 1 <= (SELECT (greatest(max(length(text)), 1) - 1) // 150
                      FROM documents)
    ),
    c AS (
      SELECT d.source,
             gs.i AS chunk_ix,
             length(substr(d.text, CAST(gs.i * 150 + 1 AS BIGINT), 200))
               AS chunk_len
      FROM documents d JOIN gs
        ON gs.i <= (greatest(length(d.text), 1) - 1) // 150
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_len) AS BIGINT) AS total_chunk_chars,
           CAST(sum(CASE WHEN chunk_len < 200 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tail_chunks,
           CAST(max(chunk_ix) AS BIGINT) AS max_chunk_ix,
           CAST(sum(chunk_ix * chunk_len) AS BIGINT) AS order_checksum
    FROM c GROUP BY source ORDER BY source
    """,
)
def chunk_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping RAG chunking (llmops/corpus.py::chunk_overlap):
    200-char windows every 150 chars (50-char overlap) over every
    document — posexplode(sequence) + substring, pure codegen, no
    Python. Per source: chunk count, total chunk chars (> corpus
    chars by exactly the overlap mass), tail-chunk count, deepest
    chunk index, and an order-sensitive ix*len checksum pinning
    BOTH the fan-out count and each window's exact content length
    against the oracle's lateral generate_series + substr."""
    from dbt_lakehouse_aws_spark.llmops.corpus import chunk_overlap
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("source", "text")
    c = chunk_overlap(d, text_col="text", size=200, stride=150)
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("chunk_len").cast("long").alias("total_chunk_chars"),
            F.sum(F.when(F.col("chunk_len") < 200, 1).otherwise(0))
            .cast("long")
            .alias("n_tail_chunks"),
            F.max("chunk_ix").cast("long").alias("max_chunk_ix"),
            F.sum(F.col("chunk_ix") * F.col("chunk_len"))
            .cast("long")
            .alias("order_checksum"),
        )
        .orderBy("source")
    )


@_promoted(
    "url_features_docs",
    """
    WITH f AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END
               AS proto_norm,
             CASE WHEN doc_id % 4 = 0 THEN 'org' ELSE 'com' END AS tld,
             CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END
                  AS BIGINT) AS path_depth,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 2
                       WHEN doc_id % 5 = 0 THEN 1
                       ELSE 0 END AS BIGINT) AS n_params,
             (doc_id % 7 = 0) AS has_port,
             (doc_id % 13 = 0) AS has_frag
      FROM documents
    )
    SELECT proto_norm, tld,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(CASE WHEN has_port THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_port,
           CAST(sum(path_depth) AS BIGINT) AS sum_path_depth,
           CAST(sum(n_params) AS BIGINT) AS sum_params,
           CAST(sum(CASE WHEN has_frag THEN 1 ELSE 0 END) AS BIGINT)
             AS n_frag,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM f GROUP BY proto_norm, tld ORDER BY proto_norm, tld
    """,
)
def url_features_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parse + normalization features (llmops/text.py::
    url_features over Spark-native parse_url). GROUND TRUTH BY
    CONSTRUCTION: the query synthesizes one hostile URL per document
    (mixed-case scheme and host, optional :8080 port, variable path
    depth, 0/1/2 query params, optional fragment — all decided by
    doc_id arithmetic), the ENGINE must parse its own construction
    back through java.net.URI, and the ORACLE computes the expected
    features directly from the construction rules without parsing.
    Any parse_url deviation (fragment leaking into QUERY, port left
    in HOST, case folding) reds the row. Rolled up per
    (scheme, TLD) — the domain-quota shape."""
    from dbt_lakehouse_aws_spark.llmops.text import url_features
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    url = F.concat(
        F.when(
            F.col("doc_id") % 17 == 0,
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(
                F.lit("HTTP")
            ),
        )
        .when(F.col("doc_id") % 2 == 0, F.lit("https"))
        .otherwise(F.lit("http")),
        F.lit("://"),
        F.when(F.col("doc_id") % 5 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".example."),
        F.when(F.col("doc_id") % 4 == 0, F.lit("org")).otherwise(F.lit("com")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("/v/"), (F.col("doc_id") % 11).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("?ref=rss&page="), (F.col("doc_id") % 7).cast("string")),
        )
        .when(F.col("doc_id") % 5 == 0, F.lit("?q="))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    feats = url_features(d.withColumn("url", url), "url")
    return (
        feats.groupBy("proto_norm", "tld")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.sum(F.when(F.col("has_port"), 1).otherwise(0))
            .cast("long")
            .alias("n_with_port"),
            F.sum("path_depth").cast("long").alias("sum_path_depth"),
            F.sum("n_params").cast("long").alias("sum_params"),
            F.sum(F.when(F.col("has_frag"), 1).otherwise(0))
            .cast("long")
            .alias("n_frag"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("proto_norm", "tld")
    )


@_promoted(
    "html_extract_docs",
    """
    WITH f AS (
      SELECT source,
             CAST(6 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
               AS title_len,
             CAST(6 + length(CAST(doc_id AS VARCHAR)) + 1 + length(text)
                  + CASE WHEN doc_id % 3 = 0 THEN 11 ELSE 0 END
                  + CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 0 END
               AS BIGINT) AS visible_len,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                  + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END
               AS BIGINT) AS n_links,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 10 ELSE 0 END
                  + CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 0 END
               AS BIGINT) AS anchor_chars
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(title_len) AS BIGINT) AS sum_title_len,
           CAST(sum(visible_len) AS BIGINT) AS sum_visible_len,
           CAST(sum(n_links) AS BIGINT) AS sum_links,
           CAST(sum(anchor_chars) AS BIGINT) AS sum_anchor_chars,
           CAST(sum(anchor_chars * 1000 // visible_len) AS BIGINT)
             AS sum_density_millis
    FROM f GROUP BY source ORDER BY source
    """,
)
def html_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate-stripping extraction (llmops/text.py::
    html_extract) under GROUND TRUTH BY CONSTRUCTION: every document
    is wrapped into a hostile page — entity in the title
    (``Doc &amp; N``), a script whose BODY contains fake markup
    (``<p>not text</p>`` — tag-strip-only extractors leak it), an
    uppercase anchor, a style block — and the oracle computes
    title/visible/anchor lengths directly from the construction
    rules, never parsing. The engine's regex pipeline must remove
    blocks, space-separate tags, decode entities, and collapse
    whitespace to land on exactly those closed-form lengths."""
    from dbt_lakehouse_aws_spark.llmops.text import html_extract
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("source", "doc_id", "text")
    html = F.concat(
        F.lit('<html><head><title>Doc &amp; '),
        F.col("doc_id").cast("string"),
        F.lit(
            '</title><script type="text/javascript">'
            'var x = "<p>not text</p>";</script></head><body class="c"><p>'
        ),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit('<a href="/l1">click here</a>')
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit('<A HREF="/l2">more</A>')
        ).otherwise(F.lit("")),
        F.lit("<style>.c{color:red}</style></body></html>"),
    )
    x = html_extract(d.withColumn("html", html), "html")
    return (
        x.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("title")).cast("long").alias("sum_title_len"),
            F.sum("visible_len").cast("long").alias("sum_visible_len"),
            F.sum("n_links").cast("long").alias("sum_links"),
            F.sum("anchor_chars").cast("long").alias("sum_anchor_chars"),
            F.sum("link_density_millis")
            .cast("long")
            .alias("sum_density_millis"),
        )
        .orderBy("source")
    )


@_promoted(
    "pii_scrub_docs",
    """
    WITH f AS (
      SELECT source,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_emails,
             CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_ips,
             CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_phones,
             CAST(length(text)
                  + CASE WHEN doc_id % 3 = 0
                         THEN 10 + length(CAST(doc_id AS VARCHAR))
                         ELSE 0 END
                  + CASE WHEN doc_id % 5 = 0
                         THEN 8 + length(CAST(doc_id % 256 AS VARCHAR))
                         ELSE 0 END
                  + CASE WHEN doc_id % 4 = 0 THEN 13 ELSE 0 END
               AS BIGINT) AS raw_len,
             CAST(length(text)
                  + CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 0 END
                  + CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 0 END
                  + CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 0 END
               AS BIGINT) AS scrubbed_len
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_emails) AS BIGINT) AS sum_emails,
           CAST(sum(n_ips) AS BIGINT) AS sum_ips,
           CAST(sum(n_phones) AS BIGINT) AS sum_phones,
           CAST(sum(raw_len) AS BIGINT) AS sum_raw_len,
           CAST(sum(scrubbed_len) AS BIGINT) AS sum_scrubbed_len
    FROM f GROUP BY source ORDER BY source
    """,
)
def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (llmops/text.py::pii_scrub) under GROUND TRUTH
    BY CONSTRUCTION: deterministic plants appended to each doc — an
    email carrying the doc_id (%3), a dotted-quad IP whose third
    octet varies (%5), a NANP phone (%4); the corpus text itself is
    verified free of @ / - / digit-dot-digit so the regex tier can
    only fire on the plants. The oracle computes match counts and
    pre/post-mask lengths in closed form; the engine's
    email -> IPv4 -> phone mask cascade must land on exactly those
    lengths."""
    from dbt_lakehouse_aws_spark.llmops.text import pii_scrub
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("source", "doc_id", "text")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" u"),
                F.col("doc_id").cast("string"),
                F.lit("@ex"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".org"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit(" 555-867-5309")).otherwise(
            F.lit("")
        ),
    )
    x = pii_scrub(
        d.withColumn("planted", planted).withColumn(
            "raw_len", F.length("planted").cast("long")
        ),
        "planted",
    )
    return (
        x.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_emails").cast("long").alias("sum_emails"),
            F.sum("n_ips").cast("long").alias("sum_ips"),
            F.sum("n_phones").cast("long").alias("sum_phones"),
            F.sum("raw_len").cast("long").alias("sum_raw_len"),
            F.sum("scrubbed_len").cast("long").alias("sum_scrubbed_len"),
        )
        .orderBy("source")
    )


@_promoted(
    "stream_merge_exactly_once",
    """
    WITH latest AS (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(user_id) AS BIGINT) AS user_checksum,
           CAST(sum(event_id) AS BIGINT) AS id_checksum,
           CAST(0 AS BIGINT) AS replay_added
    FROM latest WHERE rn = 1
    GROUP BY event_type ORDER BY event_type
    """,
)
def stream_merge_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming MERGE under the driver gate — the
    upsert twin of stream_append_exactly_once: events stream via
    Trigger.AvailableNow through streaming/ingest.py::
    stream_merge_into_acid (latest-event-per-user upsert, keys =
    user_id, order = event_id; each micro-batch is ONE atomic COW
    commit carrying rows + (app, batch) txn marker), then a
    crash-replay merges batch 0 again through the table itself — its
    txn watermark must skip it WITHOUT running the merge. The oracle
    computes the end state (the max-event_id row per user, grouped by
    type) straight from the source and pins replay_added = 0:
    idempotence by txn protocol, not by merge-rerun luck."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_merge_into_acid

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    root = tempfile.mkdtemp(prefix=f"eom_{uuid.uuid4().hex[:8]}_")
    table_path = f"{root}/tbl"
    ckpt = f"{root}/ckpt"
    q = stream_merge_into_acid(
        stream.select("event_id", "user_id", "event_type"),
        table_path=table_path,
        checkpoint_dir=ckpt,
        keys=["user_id"],
        order_col="event_id",
    )
    q.awaitTermination(600)
    t = AcidTable(spark, table_path)
    n1 = t.read().count()

    # crash-replay of batch 0 through the table
    replay = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "event_type")
        .dropDuplicates(["user_id"])
    )
    t.merge(replay, ["user_id"], txn=(f"stream_merge:{ckpt}", 0))
    n2 = t.read().count()

    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("user_id").cast("long").alias("user_checksum"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .withColumn("replay_added", F.lit(n2 - n1).cast("long"))
        .select(
            "event_type", "n_users", "user_checksum", "id_checksum",
            "replay_added",
        )
        .orderBy("event_type")
    )


@_promoted(
    "map_function_gauntlet_events",
    """
    WITH c AS (
      SELECT user_id % 50 AS bucket, event_type,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(coalesce(max(CASE WHEN event_type = 'click' THEN cnt END),
                         0) AS BIGINT) AS clicks,
           CAST(sum(cnt) AS BIGINT) AS total,
           CAST(sum(CASE WHEN cnt > 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hot_keys,
           CAST(sum(cnt * 2) AS BIGINT) AS doubled_total,
           CAST(max(CASE WHEN event_type = 'purchase' THEN cnt END)
                AS BIGINT) AS purchases_nullable
    FROM c GROUP BY bucket ORDER BY bucket
    """,
)
def map_function_gauntlet_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed function gauntlet — the engine builds a REAL
    ``map<string,bigint>`` per bucket (map_from_entries over a
    sorted entry list) and every output scalar is produced by map
    operators: ``map_keys`` cardinality, ``element_at`` point lookup
    (coalesced and raw NULL-on-absent — both semantics pinned),
    ``map_values`` folded through ``aggregate``, ``map_filter``
    predicate count, ``transform_values`` rewrite then re-fold. The
    oracle computes the same scalars by plain conditional
    aggregation, never building a map — pinning the map surface
    against relational ground truth."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events")
    c = e.groupBy(
        (F.col("user_id") % 50).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    m = c.groupBy("bucket").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    fold = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        m.select(
            "bucket",
            F.size(F.map_keys(F.col("m"))).cast("long").alias("n_keys"),
            F.coalesce(
                F.element_at(F.col("m"), F.lit("click")), F.lit(0)
            )
            .cast("long")
            .alias("clicks"),
            fold(F.map_values(F.col("m"))).alias("total"),
            F.size(
                F.map_filter(F.col("m"), lambda k, v: v > 5)
            )
            .cast("long")
            .alias("n_hot_keys"),
            fold(
                F.map_values(
                    F.transform_values(F.col("m"), lambda k, v: v * 2)
                )
            ).alias("doubled_total"),
            F.element_at(F.col("m"), F.lit("purchase"))
            .cast("long")
            .alias("purchases_nullable"),
        )
        .orderBy("bucket")
    )


@_promoted(
    "vocab_ids_docs",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    f AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM tok WHERE token <> '' GROUP BY 1
    ),
    r AS (
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token ASC) - 1
               AS token_id
      FROM f
    )
    SELECT substr(token, 1, 1) AS first_char,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(freq) AS BIGINT) AS sum_freq,
           CAST(sum(token_id) AS BIGINT) AS sum_ids,
           CAST(min(token_id) AS BIGINT) AS min_id,
           CAST(sum(token_id * freq) AS BIGINT) AS id_freq_checksum
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def vocab_ids_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense vocabulary id assignment (llmops/tokenizer.py::
    build_vocab_ids): contiguous ids 0..V-1 in (freq DESC, token)
    order over the corpus vocabulary — the embedding-table prep
    step, ranked by the two-pass global rank (no one-task vocabulary
    funnel). Grouped by first character with sum(token_id) and
    sum(token_id*freq) checksums: ANY divergence in the total id
    assignment — a swapped tie, an off-by-one, a dropped token —
    flips a checksum. Oracle = DuckDB's native row_number over the
    same (freq, token) order."""
    from dbt_lakehouse_aws_spark.llmops.tokenizer import build_vocab_ids
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("text")
    v = build_vocab_ids(d, text_col="text")
    return (
        v.groupBy(F.substring("token", 1, 1).alias("first_char"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("freq").cast("long").alias("sum_freq"),
            F.sum("token_id").cast("long").alias("sum_ids"),
            F.min("token_id").cast("long").alias("min_id"),
            F.sum(F.col("token_id") * F.col("freq"))
            .cast("long")
            .alias("id_freq_checksum"),
        )
        .orderBy("first_char")
    )


from dbt_lakehouse_aws_spark.llmops.tokenizer import (  # noqa: E402
    NEG_DRAW_HASH_SQL,
    NEG_WEIGHT_SQL,
)

_NEG_K = 10_000


@_promoted(
    "negative_sampling_docs",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    f AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM tok WHERE token <> '' GROUP BY 1
    ),
    r AS (
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token ASC) - 1
               AS token_id
      FROM f
    ),
    wts AS (
      SELECT token, token_id, freq, {NEG_WEIGHT_SQL} AS w FROM r
    ),
    bands AS (
      SELECT token, token_id, freq,
             CAST(sum(w) OVER (ORDER BY token_id) AS BIGINT) AS hi,
             CAST(sum(w) OVER (ORDER BY token_id) - w AS BIGINT) AS lo
      FROM wts
    ),
    tot AS (SELECT CAST(max(hi) AS BIGINT) AS total_w FROM bands),
    draws AS (
      SELECT js.j, CAST(({NEG_DRAW_HASH_SQL}) % t.total_w AS BIGINT) AS u
      FROM (SELECT unnest(range(0, {_NEG_K})) AS j) js CROSS JOIN tot t
    ),
    hit AS (
      SELECT d.j, d.u, b.token, b.token_id, b.freq
      FROM draws d JOIN bands b ON d.u >= b.lo AND d.u < b.hi
    )
    SELECT token_id // 4 AS id_bucket,
           CAST(count(*) AS BIGINT) AS n_draws,
           CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
           CAST(sum(u) AS BIGINT) AS u_checksum,
           CAST(sum(token_id) AS BIGINT) AS id_checksum,
           CAST(sum(freq) AS BIGINT) AS freq_checksum
    FROM hit GROUP BY 1 ORDER BY 1
    """,
)
def negative_sampling_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table + 10,000 deterministic draws
    (llmops/tokenizer.py::negative_sampling_draws): unigram^0.75
    weights in PURE INTEGER arithmetic (floor(freq^¾) via the
    nested-floor integer-sqrt identity, ±1-corrected — no float pow
    whose last ulp could flip a band), cumulative bands from the
    two-pass prefix_sum (no one-task window), draws from the
    quadratic-mix BIGINT hash, and the searchsorted resolved as a
    BUCKETED hash join. The oracle replays weights, bands, hash and
    containment verbatim in SQL — every draw must land in the
    identical band on both engines."""
    from dbt_lakehouse_aws_spark.llmops.tokenizer import (
        build_vocab_ids,
        negative_sampling_draws,
    )
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("text")
    vocab = build_vocab_ids(d, text_col="text")
    hits = negative_sampling_draws(vocab, k=_NEG_K)
    return (
        hits.groupBy(F.expr("token_id div 4").alias("id_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_draws"),
            F.countDistinct("token").cast("long").alias("n_tokens"),
            F.sum("u").cast("long").alias("u_checksum"),
            F.sum("token_id").cast("long").alias("id_checksum"),
            F.sum("freq").cast("long").alias("freq_checksum"),
        )
        .orderBy("id_bucket")
    )


def _cdc_oracle_sql() -> str:
    from dbt_lakehouse_aws_spark.llmops.corpus import (
        CDC_BASE,
        CDC_DIV,
        CDC_MOD,
        CDC_WINDOW,
    )

    ks = [
        pow(CDC_BASE, CDC_WINDOW - 1 - k, CDC_MOD) for k in range(CDC_WINDOW)
    ]
    terms = " + ".join(
        f"unicode(substr(d.text, gs.i - {CDC_WINDOW - 1 - k}, 1)) * {ks[k]}"
        for k in range(CDC_WINDOW)
    )
    return f"""
    WITH RECURSIVE gs(i) AS (
      SELECT {CDC_WINDOW}
      UNION ALL
      SELECT i + 1 FROM gs
      WHERE i + 1 <= (SELECT max(length(text)) FROM documents)
    ),
    pos AS (
      SELECT d.doc_id, d.source, gs.i,
             ({terms}) % {CDC_MOD} AS h
      FROM documents d JOIN gs ON gs.i <= length(d.text)
    ),
    ends AS (
      -- UNION ALL + DISTINCT, NOT a bare UNION: inside a WITH
      -- RECURSIVE scope DuckDB's UNION-dedup missed the
      -- (recursive-series i == length(text)) duplicate, yielding a
      -- phantom zero-length chunk (observed doc 124 @ sf0.001)
      SELECT DISTINCT doc_id, source, e FROM (
        SELECT doc_id, source, CAST(i AS BIGINT) AS e
        FROM pos WHERE h % {CDC_DIV} = 0
        UNION ALL
        SELECT doc_id, source, CAST(length(text) AS BIGINT)
        FROM documents
      )
    ),
    chunks AS (
      SELECT source,
             e - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0)
               AS chunk_len,
             row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1
               AS chunk_ix
      FROM ends
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_len) AS BIGINT) AS total_chars,
           CAST(max(chunk_len) AS BIGINT) AS max_chunk,
           CAST(sum(chunk_ix * chunk_len) AS BIGINT) AS order_checksum
    FROM chunks GROUP BY source ORDER BY source
    """


@_promoted("cdc_chunks_docs", "PLACEHOLDER_CDC")
def cdc_chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (llmops/corpus.py::cdc_chunks):
    boundaries where the 8-char window hash ≡ 0 mod 64, so an
    insertion re-aligns every downstream chunk — the dedup property
    fixed windows can't give. ENGINE: one numpy correlate per doc
    inside mapInPandas (O(n) per partition, zero shuffle, no
    per-char Python); ORACLE: the identical polynomial replayed
    RELATIONALLY — every position's hash from 8 unicode(substr)
    terms over a recursive position series — two radically different
    evaluation strategies of the same arithmetic, agreeing on every
    chunk boundary via the order-sensitive ix*len checksum."""
    from dbt_lakehouse_aws_spark.llmops.corpus import cdc_chunks
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    c = cdc_chunks(d, id_cols=["doc_id", "source"], text_col="text")
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("chunk_len").cast("long").alias("total_chars"),
            F.max("chunk_len").cast("long").alias("max_chunk"),
            F.sum(F.col("chunk_ix") * F.col("chunk_len"))
            .cast("long")
            .alias("order_checksum"),
        )
        .orderBy("source")
    )


_PROMOTED_ORACLES["cdc_chunks_docs"] = _cdc_oracle_sql()


@_promoted(
    "phrase_search_docs",
    """
    WITH RECURSIVE ws(i) AS (
      SELECT 1
      UNION ALL
      SELECT i + 1 FROM ws
      WHERE i + 1 <= (SELECT max(len(string_split(text, ' ')))
                      FROM documents)
    ),
    tok AS (
      SELECT d.doc_id, d.source, ws.i AS pos,
             string_split(d.text, ' ')[ws.i] AS token
      FROM documents d
      JOIN ws ON ws.i <= len(string_split(d.text, ' '))
    ),
    hits AS (
      SELECT a.doc_id, a.source, a.pos
      FROM tok a JOIN tok b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.token = 'order' AND b.token = 'key'
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_matched,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(sum(pos) AS BIGINT) AS pos_checksum,
           CAST(min(pos) AS BIGINT) AS first_pos
    FROM hits GROUP BY source ORDER BY source
    """,
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search — the inverted-index-with-positions
    op BM25's bag-of-words can't express: find exact "order key"
    bigram occurrences. The engine positions tokens with
    posexplode(split) and matches adjacency with ONE lead() window
    per document partition (hash exchange on doc_id — millions of
    small partitions, no funnel, no self-join); the oracle
    materializes the positional index relationally (1-based list
    indexing over a recursive position series) and joins pos+1.
    Position checksums pin exact match offsets, converted to the
    oracle's 1-based convention."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tok = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos0", "token"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos0")
    hits = (
        tok.withColumn("nxt", F.lead("token").over(w))
        .filter((F.col("token") == "order") & (F.col("nxt") == "key"))
        .select("doc_id", "source", (F.col("pos0") + 1).alias("pos"))
    )
    return (
        hits.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs_matched"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.sum("pos").cast("long").alias("pos_checksum"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .orderBy("source")
    )


@_promoted(
    "lift_gains_orders",
    """
    WITH scored AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS score_cents,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS responder,
             ntile(10) OVER (ORDER BY round(o_totalprice * 100) DESC,
                             o_orderkey ASC) AS decile
      FROM orders
    ),
    per AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(responder) AS BIGINT) AS responders
      FROM scored GROUP BY decile
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS big_n,
             CAST(sum(responders) AS BIGINT) AS big_r
      FROM per
    )
    SELECT p.decile,
           p.n,
           p.responders,
           p.responders * 100000 // p.n AS response_rate_cmilli,
           CAST(sum(p.responders) OVER (ORDER BY p.decile) AS BIGINT)
             AS cum_responders,
           CAST(sum(p.responders) OVER (ORDER BY p.decile) * 100000
                // t.big_r AS BIGINT) AS cum_capture_cmilli,
           (p.responders * 100000 // p.n) * t.big_n // t.big_r
             AS lift_cmilli
    FROM per p CROSS JOIN tot t
    ORDER BY p.decile
    """,
)
def lift_gains_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift / gains decile table — the model-scoring report every
    targeting pipeline prints: orders ranked by price-as-score,
    responders = urgent/high priority; per decile the response rate,
    cumulative capture, and lift vs the base rate, every ratio an
    exact BIGINT centi-milli quotient. Deciles come from
    ntile_scalable (closed-form two-pass binning, bit-identical to
    SQL ntile — no one-task window); the oracle uses DuckDB's NATIVE
    ntile over the same (score DESC, key) total order."""
    from dbt_lakehouse_aws_spark.operators.windows import ntile_scalable
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("score_cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("responder"),
    )
    d = ntile_scalable(
        o,
        [F.desc("score_cents"), F.asc("o_orderkey")],
        n=10,
        name="decile",
    )
    per = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("responder").cast("long").alias("responders"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("big_n"),
        F.sum("responders").cast("long").alias("big_r"),
    )
    cum = (
        per.alias("a")
        .join(
            F.broadcast(per.select(F.col("decile").alias("d2"),
                                   F.col("responders").alias("r2"))),
            F.col("d2") <= F.col("decile"),
        )
        .groupBy("decile")
        .agg(F.sum("r2").cast("long").alias("cum_responders"))
    )
    return (
        per.join(F.broadcast(cum), "decile")
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "responders",
            F.expr("responders * 100000L div n").alias("response_rate_cmilli"),
            "cum_responders",
            F.expr("cum_responders * 100000L div big_r").alias(
                "cum_capture_cmilli"
            ),
            F.expr("(responders * 100000L div n) * big_n div big_r").alias(
                "lift_cmilli"
            ),
        )
        .orderBy("decile")
    )


_HW_L = "(0.5 * (q.x - r.s1) + 0.5 * (r.l + r.b))"


@_promoted(
    "holt_winters_daily_events",
    f"""
    WITH RECURSIVE daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT key, day, x, n,
             CAST(row_number() OVER (PARTITION BY key ORDER BY day)
                  AS BIGINT) AS i
      FROM daily
    ),
    rec(key, i, l, b, s1, s2, s3, s4, s5, s6, s7) AS (
      SELECT key, i, x, CAST(0.0 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
             0.4 * (x - x) + 0.6 * CAST(0.0 AS DOUBLE)
      FROM seq WHERE i = 1
      UNION ALL
      SELECT r.key, r.i + 1,
             {_HW_L},
             0.3 * ({_HW_L} - r.l) + 0.7 * r.b,
             r.s2, r.s3, r.s4, r.s5, r.s6, r.s7,
             0.4 * (q.x - {_HW_L}) + 0.6 * r.s1
      FROM rec r JOIN seq q ON q.key = r.key AND q.i = r.i + 1
    )
    SELECT q.key AS event_type, q.day, q.n,
           floor(r.l * 1e6 + 0.5) / 1e6 AS level,
           floor(r.b * 1e6 + 0.5) / 1e6 AS trend,
           floor(r.s7 * 1e6 + 0.5) / 1e6 AS seasonal,
           floor((r.l + r.b + r.s1) * 1e6 + 0.5) / 1e6 AS forecast
    FROM rec r JOIN seq q ON q.key = r.key AND q.i = r.i
    """,
)
def holt_winters_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple smoothing over per-type daily
    counts (operators/temporal.py::holt_winters_additive): level +
    trend + 7-slot positional seasonality. The engine folds the
    three-state + ring recursion per key in Arrow applyInPandas; the
    oracle carries the ENTIRE 7-slot seasonal ring as recursive-CTE
    columns, shifting one slot per step — the most state any oracle
    here replays, same literal constants, identical op order, and
    the duplicated level subexpression is bitwise-deterministic
    IEEE so inlining it twice equals the engine's stored
    intermediate. Floor-quantized to 1e-6 on both sides."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.operators.temporal import (
        holt_winters_additive,
    )

    ev = T(spark, sf_dir, "events")
    out = holt_winters_additive(ev, key_col="event_type", ts_col="ts")

    def r6(c: str):
        return (F.floor(F.col(c) * 1e6 + F.lit(0.5)) / 1e6).alias(c)

    return out.select(
        F.col("key").alias("event_type"),
        "day",
        "n",
        r6("level"),
        r6("trend"),
        r6("seasonal"),
        r6("forecast"),
    )


@_promoted(
    "embedding_int8_quantize",
    """
    WITH q AS (
      SELECT vec_id, label,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE))))
               AS maxabs,
             embedding
      FROM embeddings
    ),
    cells AS (
      SELECT vec_id, label, maxabs,
             CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5)
                  AS BIGINT) AS qv
      FROM q, unnest(embedding) AS t(x)
    ),
    per_vec AS (
      SELECT vec_id, label,
             CAST(count(*) AS BIGINT) AS dim,
             CAST(sum(qv) AS BIGINT) AS q_sum,
             CAST(sum(qv * qv) AS BIGINT) AS q_sq,
             CAST(max(abs(qv)) AS BIGINT) AS q_maxabs
      FROM cells GROUP BY 1, 2
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(q_sum) AS BIGINT) AS sum_q,
           CAST(sum(q_sq) AS BIGINT) AS sum_q_sq,
           CAST(max(q_maxabs) AS BIGINT) AS max_q,
           CAST(sum(CASE WHEN q_maxabs = 127 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_saturated
    FROM per_vec GROUP BY label ORDER BY label
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the 4× memory lever
    every vector index applies before ANN: per-vector scale
    max|x|/127, cells floor(x·127/maxabs + 0.5). Stays EXACT across
    engines because every step is deterministic IEEE double
    arithmetic in the same order (float32 cast exact, one multiply,
    one divide, floor) — no round(double, d) whose tie handling
    diverges. The engine runs entirely in codegen higher-order
    array functions (transform/aggregate — no explode, no Python);
    the oracle unnests relationally. Per-label sums/squares of ALL
    quantized cells + saturation counts: any cell differing by one
    quantum anywhere flips a checksum."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(dbl, lambda x: F.abs(x)))
    qarr = F.transform(
        dbl, lambda x: F.floor(x * 127.0 / F.col("maxabs") + 0.5).cast("long")
    )
    fold = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    per_vec = (
        e.withColumn("maxabs", maxabs)
        .withColumn("qarr", qarr)
        .select(
            "vec_id",
            "label",
            F.size("qarr").cast("long").alias("dim"),
            fold(F.col("qarr")).alias("q_sum"),
            fold(F.transform(F.col("qarr"), lambda v: v * v)).alias("q_sq"),
            F.array_max(F.transform(F.col("qarr"), lambda v: F.abs(v)))
            .cast("long")
            .alias("q_maxabs"),
        )
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("q_sum").cast("long").alias("sum_q"),
            F.sum("q_sq").cast("long").alias("sum_q_sq"),
            F.max("q_maxabs").cast("long").alias("max_q"),
            F.sum(F.when(F.col("q_maxabs") == 127, 1).otherwise(0))
            .cast("long")
            .alias("n_saturated"),
        )
        .orderBy("label")
    )


@_promoted(
    "pareto_frontier_parts",
    """
    WITH pts AS (
      SELECT p_partkey, p_size AS s,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    ),
    per_size AS (
      SELECT s, CAST(min(cents) AS BIGINT) AS m2 FROM pts GROUP BY s
    ),
    running AS (
      SELECT s, m2,
             CAST(min(m2) OVER (ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS BIGINT) AS m1
      FROM per_size
    )
    SELECT p.p_partkey, p.s AS p_size, p.cents
    FROM pts p JOIN running r ON r.s = p.s
    WHERE p.cents = r.m2 AND (r.m1 IS NULL OR p.cents < r.m1)
    ORDER BY p.s, p.p_partkey
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier / skyline over (size, price), both minimized:
    a part is on the frontier iff no other part is <= in both
    dimensions and < in one. Decomposed for scale: a point survives
    iff its price equals its size-group minimum (kills same-size
    domination) AND beats the strict running minimum over all
    SMALLER sizes (kills cross-size domination). The heavy work is
    ONE map-side-combinable per-size aggregate over the full table;
    the running minimum then lives on the DISTINCT-SIZE frame —
    bounded by the attribute domain (50 sizes), not the row count —
    and broadcasts back. No quadratic dominance join, no full-table
    window. Oracle = the same decomposition in DuckDB (frontier
    membership is definition-checkable, so the shared spelling is a
    derivation, not a crutch)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").alias("s"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    per_size = p.groupBy("s").agg(F.min("cents").alias("m2"))
    smaller = per_size.select(
        F.col("s").alias("s2"), F.col("m2").alias("m2b")
    )
    running = (
        per_size.join(F.broadcast(smaller), F.col("s2") < F.col("s"), "left")
        .groupBy("s", "m2")
        .agg(F.min("m2b").alias("m1"))
    )
    return (
        p.join(F.broadcast(running), "s")
        .filter(
            (F.col("cents") == F.col("m2"))
            & (F.col("m1").isNull() | (F.col("cents") < F.col("m1")))
        )
        .select("p_partkey", F.col("s").alias("p_size"), "cents")
        .orderBy("p_size", "p_partkey")
    )


@_promoted(
    "fk_integrity_audit",
    """
    SELECT 'lineitem.orderkey' AS fk, CAST(count(*) AS BIGINT) AS orphans
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'lineitem.partkey', CAST(count(*) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_partkey IS NULL
    UNION ALL
    SELECT 'lineitem.suppkey', CAST(count(*) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_suppkey IS NULL
    UNION ALL
    SELECT 'orders.custkey', CAST(count(*) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'customer.nationkey', CAST(count(*) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE n.n_nationkey IS NULL
    UNION ALL
    SELECT 'supplier.nationkey', CAST(count(*) AS BIGINT)
    FROM supplier s LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_nationkey IS NULL
    UNION ALL
    SELECT 'nation.regionkey', CAST(count(*) AS BIGINT)
    FROM nation n LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_regionkey IS NULL
    ORDER BY fk
    """,
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep across the whole star schema —
    the warehouse smoke audit run after every load: orphan counts
    for all seven FK edges in one result. Engine spells each edge as
    a LEFT ANTI join (no payload materialized, dims broadcast); the
    oracle uses the equivalent LEFT JOIN / IS NULL. All-zero on
    consistent TPC-H data — the value is the shape: anti-join counts
    at fact-table scale with no fact shuffle beyond the join keys."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    def orphans(name, fact, fk, dim, pk):
        f = T(spark, sf_dir, fact).select(F.col(fk).alias("k"))
        d = T(spark, sf_dir, dim).select(F.col(pk).alias("k"))
        n = f.join(F.broadcast(d), "k", "left_anti").count()
        return (name, n)

    rows = [
        orphans("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        orphans("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        orphans("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        orphans("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
        orphans("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        orphans("supplier.nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
        orphans("nation.regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    return local_frame(
        spark, sorted(rows), "fk string, orphans long"
    ).orderBy("fk")


@_promoted(
    "listagg_gauntlet_nation",
    """
    WITH c AS (
      SELECT c_nationkey AS nk, c_custkey, c_mktsegment
      FROM customer WHERE c_custkey % 37 = 0
    )
    SELECT nk,
           CAST(count(*) AS BIGINT) AS n,
           string_agg(CAST(c_custkey AS VARCHAR), ','
                      ORDER BY c_custkey) AS keys_asc,
           string_agg(c_mktsegment, '|'
                      ORDER BY c_custkey DESC) AS segs_desc,
           md5(string_agg(CAST(c_custkey AS VARCHAR), ','
                          ORDER BY c_custkey)) AS keys_md5
    FROM c GROUP BY nk ORDER BY nk
    """,
)
def listagg_gauntlet_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg) — the
    notoriously engine-divergent SQL surface, pinned in its ONLY
    portable form: an explicit ORDER BY inside the aggregate over a
    unique key. Spark has no ordered string_agg, so the engine
    builds sort_array(collect_list(struct(key, payload))) and
    concat_ws's the payloads — same ascending/descending orders,
    plus an md5 over the joined string proving byte equality, not
    just same-length. Deterministic customer subset keeps rows
    bounded."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 37 == 0)
        .select(
            F.col("c_nationkey").alias("nk"), "c_custkey", "c_mktsegment"
        )
    )

    def ordered_join(payload, sep, desc=False):
        entries = F.sort_array(
            F.collect_list(F.struct(F.col("c_custkey").alias("k"), payload)),
            asc=not desc,
        )
        return F.array_join(
            F.transform(entries, lambda s: s["p"].cast("string")), sep
        )

    return (
        c.groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            ordered_join(
                F.col("c_custkey").cast("string").alias("p"), ","
            ).alias("keys_asc"),
            ordered_join(F.col("c_mktsegment").alias("p"), "|", desc=True).alias(
                "segs_desc"
            ),
            F.md5(
                ordered_join(
                    F.col("c_custkey").cast("string").alias("p"), ","
                )
            ).alias("keys_md5"),
        )
        .orderBy("nk")
    )


#: quadratic-mix side hash of a duplicate-cluster root: test iff
#: hash % 5 == 0 (~20%). Pure BIGINT, identical text on both engines.
_SPLIT_HASH = (
    "((((root % 2147483647) * 1103515245 + 12345) % 2147483647)"
    " * ((((root % 2147483647) * 1103515245 + 12345) % 2147483647) + 1)"
    " + 987654321) % 2147483647 % 5"
)


@_promoted(
    "leakage_safe_split_docs",
    f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(tokens) - 1),
                                   i -> array_to_string(
                                          list_slice(tokens, i, i + 2), ' ')))
               AS shingle
      FROM toks WHERE len(tokens) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), jac_pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i) >= 0.5
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac_pairs
      UNION ALL SELECT doc_b, doc_a FROM jac_pairs
    ), reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ), roots AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(m.mn, d.doc_id)) AS root
      FROM documents d
      LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
        ON m.src = d.doc_id
    ), sided AS (
      SELECT r.doc_id, r.root,
             CASE WHEN {_SPLIT_HASH} = 0 THEN 'test' ELSE 'train' END
               AS side,
             length(d.text) AS chars
      FROM roots r JOIN documents d ON d.doc_id = r.doc_id
    ), crossing AS (
      SELECT CAST(count(*) AS BIGINT) AS x
      FROM jac_pairs p
      JOIN sided sa ON sa.doc_id = p.doc_a
      JOIN sided sb ON sb.doc_id = p.doc_b
      WHERE sa.side <> sb.side
    )
    SELECT s.side,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s.root) AS BIGINT) AS n_clusters,
           CAST(sum(s.chars) AS BIGINT) AS sum_chars,
           CAST(sum(s.doc_id) AS BIGINT) AS id_checksum,
           c.x AS crossing_pairs
    FROM sided s CROSS JOIN crossing c
    GROUP BY s.side, c.x ORDER BY s.side
    """,
)
def leakage_safe_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminated train/test split — the split a benchmark-safe
    corpus actually needs: near-duplicate CLUSTERS (exact 3-shingle
    Jaccard >= 0.5 pairs -> connected components) are assigned to a
    side ATOMICALLY by hashing the cluster root, so no near-dup pair
    can straddle the boundary (a doc-level hash split leaks ~J of
    every test doc into train). Engine: prefix-filtered exact pairs
    -> min-label components -> quadratic-mix side hash; oracle:
    all-shingle pairs -> recursive-CTE closure -> the same hash.
    ``crossing_pairs`` is COMPUTED on both sides (join over the
    split assignment), not asserted — the invariant is part of the
    result contract, and the per-side doc/cluster/char checksums pin
    the full assignment."""
    from dbt_lakehouse_aws_spark.llmops.dedup import (
        connected_components,
        prefix_filter_jaccard_pairs,
    )
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = prefix_filter_jaccard_pairs(
        d, n=3, threshold=0.5
    ).select("doc_a", "doc_b").localCheckpoint(eager=True)
    comps = connected_components(pairs)
    roots = (
        d.join(comps, d["doc_id"] == comps["node"], "left")
        .select(
            "doc_id",
            F.least(
                F.col("doc_id"), F.coalesce(F.col("component"), F.col("doc_id"))
            ).alias("root"),
            F.length("text").cast("long").alias("chars"),
        )
    )
    sided = roots.withColumn(
        "side",
        F.when(F.expr(_SPLIT_HASH) == 0, F.lit("test")).otherwise(
            F.lit("train")
        ),
    ).localCheckpoint(eager=True)
    sa = sided.select(F.col("doc_id").alias("doc_a"), F.col("side").alias("_sa"))
    sb = sided.select(F.col("doc_id").alias("doc_b"), F.col("side").alias("_sb"))
    crossing = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("_sa") != F.col("_sb"))
        .count()
    )
    return (
        sided.groupBy("side")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("root").cast("long").alias("n_clusters"),
            F.sum("chars").cast("long").alias("sum_chars"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .withColumn("crossing_pairs", F.lit(crossing).cast("long"))
        .orderBy("side")
    )


@_promoted(
    "diff_in_diff_events",
    """
    WITH base AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 'treat' ELSE 'control' END
               AS grp,
             CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                  THEN 'post' ELSE 'pre' END AS period,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    cells AS (
      SELECT grp, period,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             sum(cents) * 10000 // count(*) AS mean_q
      FROM base GROUP BY grp, period
    ),
    wide AS (
      SELECT
        max(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_q END)
          AS tp,
        max(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_q END)
          AS tr,
        max(CASE WHEN grp = 'control' AND period = 'post' THEN mean_q END)
          AS cp,
        max(CASE WHEN grp = 'control' AND period = 'pre' THEN mean_q END)
          AS cr
      FROM cells
    )
    SELECT c.grp, c.period, c.n, c.total_cents,
           CAST(c.mean_q AS BIGINT) AS mean_q,
           CAST((w.tp - w.tr) - (w.cp - w.cr) AS BIGINT) AS did_q
    FROM cells c CROSS JOIN wide w
    ORDER BY c.grp, c.period
    """,
)
def diff_in_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the pre/post × treat/control
    2×2 that separates a treatment effect from the shared time
    trend: DiD = (treat_post − treat_pre) − (control_post −
    control_pre). Deterministic assignment (user parity; Jan 16
    cutover), every cell mean an exact BIGINT deci-milli quotient,
    the estimate carried on all four rows. One map-side-combinable
    aggregate over the facts; the 2×2 pivot runs on FOUR rows."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events")
    base = e.select(
        F.when(F.col("user_id") % 2 == 1, "treat")
        .otherwise("control")
        .alias("grp"),
        F.when(
            F.to_date("ts") >= F.lit("2024-01-16").cast("date"), "post"
        )
        .otherwise("pre")
        .alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    cells = base.groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.expr("sum(cents) * 10000L div count(*)").alias("mean_q"),
    )
    wide = cells.agg(
        F.max(
            F.when(
                (F.col("grp") == "treat") & (F.col("period") == "post"),
                F.col("mean_q"),
            )
        ).alias("tp"),
        F.max(
            F.when(
                (F.col("grp") == "treat") & (F.col("period") == "pre"),
                F.col("mean_q"),
            )
        ).alias("tr"),
        F.max(
            F.when(
                (F.col("grp") == "control") & (F.col("period") == "post"),
                F.col("mean_q"),
            )
        ).alias("cp"),
        F.max(
            F.when(
                (F.col("grp") == "control") & (F.col("period") == "pre"),
                F.col("mean_q"),
            )
        ).alias("cr"),
    )
    return (
        cells.crossJoin(F.broadcast(wide))
        .select(
            "grp",
            "period",
            "n",
            "total_cents",
            F.col("mean_q").cast("long").alias("mean_q"),
            (
                (F.col("tp") - F.col("tr")) - (F.col("cp") - F.col("cr"))
            )
            .cast("long")
            .alias("did_q"),
        )
        .orderBy("grp", "period")
    )


_AMS_H = (
    "(((u * 131 + k * 1299709 + 12345) % 2147483647)"
    " * (((u * 131 + k * 1299709 + 12345) % 2147483647) + 1)"
    " + 987654321) % 2147483647"
)
_AMS_SIGN = f"CASE WHEN ({_AMS_H}) % 2 = 0 THEN 1 ELSE -1 END"


@_promoted(
    "ams_f2_users",
    f"""
    WITH f AS (
      SELECT user_id AS u, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    lanes AS (
      SELECT ks.k, CAST(sum(f.cnt * ({_AMS_SIGN})) AS BIGINT) AS s
      FROM f CROSS JOIN (SELECT unnest(range(0, 16)) AS k) ks
      GROUP BY ks.k
    ),
    grp AS (
      SELECT k // 4 AS g, CAST(sum(s * s) // 4 AS BIGINT) AS mean4
      FROM lanes GROUP BY 1
    ),
    med AS (
      SELECT CAST(mean4 AS BIGINT) AS est
      FROM (SELECT mean4,
                   row_number() OVER (ORDER BY mean4, g) AS rk
            FROM grp)
      WHERE rk = 2
    ),
    exact AS (
      SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2,
             CAST(count(*) AS BIGINT) AS n_users
      FROM f
    )
    SELECT g.g AS lane_group, g.mean4,
           e.n_users, e.f2 AS exact_f2, m.est AS est_f2,
           CAST(m.est * 1000 // e.f2 AS BIGINT) AS ratio_millis
    FROM grp g CROSS JOIN med m CROSS JOIN exact e
    ORDER BY g.g
    """,
)
def ams_f2_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS "tug-of-war" sketch for the second frequency moment
    F2 = Σ f_u² (the self-join size / skew statistic) — completing
    the sketch family next to HLL (F0), CMS (point freq), KMV
    (distinct/overlap), Misra-Gries (heavy hitters): 16 ±1 lanes
    from the quadratic-mix hash, estimate = lower median of four
    4-lane means of S_k². The efficient shape aggregates per-user
    counts FIRST (one shuffle), then runs the 16 lanes over the
    user frame — mergeable partials, integer-exact arithmetic
    end-to-end (sums of ±cnt, squares, div). The oracle replays
    every lane verbatim; exact F2 and the est/exact ratio ride
    along, so the row pins BOTH the sketch mechanics and its
    accuracy on this corpus."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events")
    f = e.groupBy(F.col("user_id").alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    lanes_k = spark.range(16).select(F.col("id").cast("long").alias("k"))
    lanes = (
        f.crossJoin(F.broadcast(lanes_k))
        .select("k", (F.col("cnt") * F.expr(_AMS_SIGN)).alias("c"))
        .groupBy("k")
        .agg(F.sum("c").cast("long").alias("s"))
    )
    grp = lanes.groupBy(F.expr("k div 4").alias("g")).agg(
        F.expr("sum(s * s) div 4").cast("long").alias("mean4")
    )
    med = (
        grp.alias("a")
        .join(
            F.broadcast(
                grp.select(F.col("g").alias("g2"), F.col("mean4").alias("m2"))
            ),
            (F.col("m2") < F.col("mean4"))
            | ((F.col("m2") == F.col("mean4")) & (F.col("g2") < F.col("g"))),
            "left",
        )
        .groupBy("g", "mean4")
        .agg(F.count("g2").alias("_nlt"))
        .filter(F.col("_nlt") == 1)
        .select(F.col("mean4").cast("long").alias("est"))
    )
    exact = f.agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("f2"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    return (
        grp.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("g").alias("lane_group"),
            "mean4",
            "n_users",
            F.col("f2").alias("exact_f2"),
            F.col("est").alias("est_f2"),
            F.expr("est * 1000L div f2").alias("ratio_millis"),
        )
        .orderBy("lane_group")
    )


@_promoted(
    "stream_quarantine_split",
    """
    WITH base AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             (event_type = 'error') AS tfail,
             (CAST(round(value * 100) AS BIGINT) % 7 = 0) AS vfail
      FROM events
    ),
    tagged AS (
      SELECT event_id, cents,
             CASE WHEN tfail AND vfail THEN 'quarantine:type_ok,v_mod'
                  WHEN tfail THEN 'quarantine:type_ok'
                  WHEN vfail THEN 'quarantine:v_mod'
                  ELSE 'landed' END AS bucket
      FROM base
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents_sum,
           CAST(sum(event_id) AS BIGINT) AS id_checksum
    FROM tagged GROUP BY bucket ORDER BY bucket
    """,
)
def stream_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level dead-letter streaming ingest under the driver gate
    (streaming/ingest.py::stream_append_with_quarantine): events
    stream AvailableNow; rows failing any CHECK constraint land in a
    quarantine ACID table tagged with the sorted list of violated
    constraint names, clean rows land in the main ACID table —
    which satisfies its constraints by construction. The oracle
    recomputes the split straight from the source with the same
    predicates; counts and checksums must match BOTH tables' actual
    post-stream contents (read back through the ACID layer, not the
    in-flight frames)."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.streaming.ingest import (
        stream_append_with_quarantine,
    )

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    root = tempfile.mkdtemp(prefix=f"quar_{uuid.uuid4().hex[:8]}_")
    q = stream_append_with_quarantine(
        stream.select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ),
        table_path=f"{root}/main",
        quarantine_path=f"{root}/bad",
        checkpoint_dir=f"{root}/ckpt",
        constraints={
            "type_ok": "event_type != 'error'",
            "v_mod": "cents % 7 != 0",
        },
    )
    q.awaitTermination(600)

    main = (
        AcidTable(spark, f"{root}/main")
        .read()
        .select("event_id", "cents", F.lit("landed").alias("bucket"))
    )
    bad = (
        AcidTable(spark, f"{root}/bad")
        .read()
        .select(
            "event_id",
            "cents",
            F.concat(F.lit("quarantine:"), F.col("violated")).alias("bucket"),
        )
    )
    return (
        main.unionByName(bad)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents_sum"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .orderBy("bucket")
    )


@_promoted(
    "web_pipeline_chunks",
    """
    WITH f AS (
      SELECT source,
             CAST(6 + length(CAST(doc_id AS VARCHAR)) + 1 + length(text)
                  + CASE WHEN doc_id % 3 = 0 THEN 11 ELSE 0 END
                  + CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 0 END
               AS BIGINT) AS v
      FROM documents
    ),
    c AS (
      SELECT source, v,
             (v - 1) // 150 + 1 AS n_chunks,
             CASE WHEN v >= 200 THEN (v - 200) // 150 + 1 ELSE 0 END
               AS n_full
      FROM f
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(v) AS BIGINT) AS sum_visible_len,
           CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
           CAST(sum(n_chunks - n_full) AS BIGINT) AS short_chunks,
           CAST(max(n_chunks) AS BIGINT) AS max_chunks_per_doc
    FROM c GROUP BY source ORDER BY source
    """,
)
def web_pipeline_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed web-corpus pipeline — the construction-oracle
    technique COMPOSES: each document is wrapped in the same hostile
    page as html_extract_docs, the engine then actually runs
    html_extract -> chunk_overlap(200/150) over the extracted
    visible text, and the oracle never touches HTML or chunks —
    it derives visible length in closed form from the construction
    rules and pushes it through the closed-form chunk-count algebra
    (full chunks are those with 200 chars in range; the rest are
    tails). Two real operators chained; one arithmetic oracle."""
    from dbt_lakehouse_aws_spark.llmops.corpus import chunk_overlap
    from dbt_lakehouse_aws_spark.llmops.text import html_extract
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("source", "doc_id", "text")
    html = F.concat(
        F.lit('<html><head><title>Doc &amp; '),
        F.col("doc_id").cast("string"),
        F.lit(
            '</title><script type="text/javascript">'
            'var x = "<p>not text</p>";</script></head><body class="c"><p>'
        ),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit('<a href="/l1">click here</a>')
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit('<A HREF="/l2">more</A>')
        ).otherwise(F.lit("")),
        F.lit("<style>.c{color:red}</style></body></html>"),
    )
    x = html_extract(d.withColumn("html", html), "html").select(
        "source", "doc_id", "visible_text", "visible_len"
    )
    chunks = chunk_overlap(x, text_col="visible_text", size=200, stride=150)
    per_doc = chunks.groupBy("source", "doc_id", "visible_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("chunk_len") < 200, 1).otherwise(0))
        .cast("long")
        .alias("n_short"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("visible_len").cast("long").alias("sum_visible_len"),
            F.sum("n_chunks").cast("long").alias("total_chunks"),
            F.sum("n_short").cast("long").alias("short_chunks"),
            F.max("n_chunks").cast("long").alias("max_chunks_per_doc"),
        )
        .orderBy("source")
    )


@_promoted(
    "incremental_join_maintenance",
    """
    SELECT c.c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta algebra
    Δ(O⋈C) = ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC, the identity every streaming
    materialized-view engine is built on: the standing MV is
    old-orders⋈old-customers (aggregated per nation), then a batch
    of late orders AND a batch of late-arriving customer rows land
    together, and the engine refreshes by aggregating ONLY the three
    delta terms and monoid-merging them into the MV's partial state
    — history is never rescanned (the old⋈old term is reused as-is).
    The oracle recomputes the full join from scratch: partial-state
    merge must equal full recompute, per nation, in exact cents."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderdate") < F.lit("1996-01-01").cast("date")).alias(
            "_old"
        ),
    )
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (F.col("c_custkey") % 10 != 0).alias("_old"),
    )
    o_old, o_new = o.filter("_old").drop("_old"), o.filter("NOT _old").drop("_old")
    c_old, c_new = c.filter("_old").drop("_old"), c.filter("NOT _old").drop("_old")

    def agg(orders, custs):
        return (
            orders.join(custs, orders["o_custkey"] == custs["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("s"),
            )
        )

    mv = agg(o_old, c_old)  # the standing view's partial state
    deltas = [agg(o_new, c_old), agg(o_old, c_new), agg(o_new, c_new)]
    merged = mv
    for term in deltas:
        merged = merged.unionByName(term)
    return (
        merged.groupBy("c_nationkey")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("s").cast("long").alias("cents"),
        )
        .select(
            F.col("c_nationkey").alias("nationkey"), "n_orders", "cents"
        )
        .orderBy("nationkey")
    )


@_promoted(
    "trimmed_mean_orders",
    """
    WITH o AS (
      SELECT o_orderpriority AS pri,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY round(o_totalprice * 100),
                                         o_orderkey) AS r,
             count(*) OVER (PARTITION BY o_orderpriority) AS ng
      FROM orders
    ),
    kept AS (
      SELECT pri, cents, ng, ng // 20 AS k
      FROM o WHERE r > ng // 20 AND r <= ng - ng // 20
    )
    SELECT pri,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(k) AS BIGINT) AS n_trimmed_each_side,
           CAST(sum(cents) AS BIGINT) AS kept_cents,
           CAST(sum(cents) AS BIGINT) * 10000 // CAST(count(*) AS BIGINT)
             AS trimmed_mean_q
    FROM kept GROUP BY pri ORDER BY pri
    """,
)
def trimmed_mean_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per priority — the robust-location estimator
    between the mean (0% trim, breakdown 0) and the median (50%,
    already covered by weighted_median/a8): drop the bottom and top
    ng div 20 rows by (value, key) rank, average the rest as an
    exact BIGINT quotient. Per-group ranks come from ONE global
    two-pass rank + broadcast group offsets (the quantile_normalize
    device) — never a per-priority one-task window, so five huge
    groups still spread over every partition. Oracle = DuckDB's
    native per-group window."""
    from dbt_lakehouse_aws_spark.operators.windows import global_row_number
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    g = global_row_number(
        o,
        [F.asc("pri"), F.asc("cents"), F.asc("o_orderkey")],
        name="_grn",
    )
    stats = g.groupBy("pri").agg(
        F.min("_grn").alias("_g0"), F.count(F.lit(1)).alias("ng")
    )
    ranked = g.join(F.broadcast(stats), "pri").withColumn(
        "r", F.col("_grn") - F.col("_g0") + 1
    )
    kept = ranked.filter(
        (F.col("r") > F.expr("ng div 20"))
        & (F.col("r") <= F.col("ng") - F.expr("ng div 20"))
    )
    return (
        kept.groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.max(F.expr("ng div 20")).cast("long").alias(
                "n_trimmed_each_side"
            ),
            F.sum("cents").cast("long").alias("kept_cents"),
            F.expr("sum(cents) * 10000L div count(*)").alias(
                "trimmed_mean_q"
            ),
        )
        .orderBy("pri")
    )


@_promoted(
    "correlation_matrix_lineitem",
    """
    WITH x AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
             CAST(round(l_discount * 100) AS BIGINT) AS d
      FROM lineitem
    ),
    s AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp,
             CAST(sum(d) AS BIGINT) AS sd,
             CAST(sum(q * q) AS BIGINT) AS sqq,
             CAST(sum(p * p) AS BIGINT) AS spp,
             CAST(sum(d * d) AS BIGINT) AS sdd,
             CAST(sum(q * p) AS BIGINT) AS sqp,
             CAST(sum(q * d) AS BIGINT) AS sqd,
             CAST(sum(p * d) AS BIGINT) AS spd
      FROM x GROUP BY flag
    )
    SELECT flag, n,
           floor((CAST(n AS DOUBLE) * sqp - CAST(sq AS DOUBLE) * sp)
             / nullif(sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
                    * (CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)), 0.0)
             * 1e6 + 0.5) / 1e6 AS r_qty_price,
           floor((CAST(n AS DOUBLE) * sqd - CAST(sq AS DOUBLE) * sd)
             / nullif(sqrt((CAST(n AS DOUBLE) * sqq - CAST(sq AS DOUBLE) * sq)
                    * (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)), 0.0)
             * 1e6 + 0.5) / 1e6 AS r_qty_disc,
           floor((CAST(n AS DOUBLE) * spd - CAST(sp AS DOUBLE) * sd)
             / nullif(sqrt((CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp)
                    * (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)), 0.0)
             * 1e6 + 0.5) / 1e6 AS r_price_disc
    FROM s ORDER BY flag
    """,
)
def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over three lineitem
    measures per return flag — the EDA matrix, from INTEGER
    sufficient statistics (n, Σx, Σxy for every pair in ONE
    map-side-combinable pass; quantities/cents are exact BIGINTs, so
    the only floats are the final three quotients, floor-quantized
    to 1e-6 with identical op order on both engines — the ACF
    device, widened to the full pair matrix)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    s = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("p") * F.col("d")).alias("spd"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        num = (
            F.col("n").cast("double") * F.col(sxy)
            - F.col(sx).cast("double") * F.col(sy)
        )
        den = F.sqrt(
            (
                F.col("n").cast("double") * F.col(sxx)
                - F.col(sx).cast("double") * F.col(sx)
            )
            * (
                F.col("n").cast("double") * F.col(syy)
                - F.col(sy).cast("double") * F.col(sy)
            )
        )
        return F.floor(num / F.nullif(den, F.lit(0.0)) * 1e6 + 0.5) / 1e6

    return s.select(
        "flag",
        "n",
        corr("sqp", "sq", "sp", "sqq", "spp").alias("r_qty_price"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("r_qty_disc"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("r_price_disc"),
    ).orderBy("flag")


@_promoted(
    "welch_ttest_events",
    """
    WITH x AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS grp,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    s AS (
      SELECT event_type, grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sx,
             CAST(sum(cents * cents) AS BIGINT) AS sxx
      FROM x GROUP BY 1, 2
    ),
    w AS (
      SELECT a.event_type,
             a.n AS n1, b.n AS n2,
             CAST(a.sx AS DOUBLE) / a.n AS m1,
             CAST(b.sx AS DOUBLE) / b.n AS m2,
             (CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * a.sx / a.n)
               / (a.n - 1) AS v1,
             (CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * b.sx / b.n)
               / (b.n - 1) AS v2
      FROM s a JOIN s b
        ON b.event_type = a.event_type AND a.grp = 1 AND b.grp = 0
    )
    SELECT event_type, n1, n2,
           floor((m1 - m2) * 1e6 + 0.5) / 1e6 AS mean_diff,
           floor((m1 - m2) / sqrt(v1 / n1 + v2 / n2) * 1e6 + 0.5) / 1e6
             AS t_stat,
           floor((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
                 / (v1 / n1 * (v1 / n1) / (n1 - 1)
                    + v2 / n2 * (v2 / n2) / (n2 - 1)) * 1e6 + 0.5) / 1e6
             AS welch_df
    FROM w ORDER BY event_type
    """,
)
def welch_ttest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event type — the means
    companion to abtest_conversion_ztest's proportions: treatment =
    odd user ids, t statistic and Welch–Satterthwaite degrees of
    freedom from INTEGER sufficient statistics (n, Σx, Σx² per cell
    in one pass), the only floats the final expressions, evaluated
    in the same operation order on both engines and floor-quantized
    to 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    s = e.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sx"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("sxx"),
    )
    a = s.filter("grp = 1").select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("sx").alias("sx1"),
        F.col("sxx").alias("sxx1"),
    )
    b = s.filter("grp = 0").select(
        "event_type",
        F.col("n").alias("n2"),
        F.col("sx").alias("sx2"),
        F.col("sxx").alias("sxx2"),
    )
    j = a.join(b, "event_type")
    m1 = F.col("sx1").cast("double") / F.col("n1")
    m2 = F.col("sx2").cast("double") / F.col("n2")
    v1 = (
        F.col("sxx1").cast("double")
        - F.col("sx1").cast("double") * F.col("sx1") / F.col("n1")
    ) / (F.col("n1") - 1)
    v2 = (
        F.col("sxx2").cast("double")
        - F.col("sx2").cast("double") * F.col("sx2") / F.col("n2")
    ) / (F.col("n2") - 1)
    se2_1 = v1 / F.col("n1")
    se2_2 = v2 / F.col("n2")

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    return j.select(
        "event_type",
        "n1",
        "n2",
        q6(m1 - m2).alias("mean_diff"),
        q6((m1 - m2) / F.sqrt(se2_1 + se2_2)).alias("t_stat"),
        q6(
            (se2_1 + se2_2)
            * (se2_1 + se2_2)
            / (
                se2_1 * se2_1 / (F.col("n1") - 1)
                + se2_2 * se2_2 / (F.col("n2") - 1)
            )
        ).alias("welch_df"),
    ).orderBy("event_type")


@_promoted(
    "readability_by_lang",
    """
    WITH c AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             CAST(greatest(length(text) - length(replace(text, '.', '')),
                           1) AS BIGINT) AS sentences,
             CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
               AS vgroups
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS total_words,
           CAST(sum(sentences) AS BIGINT) AS total_sentences,
           CAST(sum(vgroups) AS BIGINT) AS total_vgroups,
           floor((206.835
                  - 1.015 * (CAST(sum(words) AS DOUBLE) / sum(sentences))
                  - 84.6 * (CAST(sum(vgroups) AS DOUBLE) / sum(words)))
                 * 1e6 + 0.5) / 1e6 AS flesch_q
    FROM c GROUP BY lang ORDER BY lang
    """,
)
def readability_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per language — the classic
    quality-filter feature, with vowel GROUPS as the portable
    syllable proxy: words, sentence terminators, and vowel-group
    counts are EXACT integers (regexp_count of '[aeiou]+' —
    identical in Java and RE2), aggregated per language before the
    single float readability expression (per-row floats averaged
    later would be summation-order-dependent; corpus-level ratios
    are one deterministic expression), floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select("lang", "text")
    c = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("words"),
        F.greatest(
            F.length("text") - F.length(F.replace(F.col("text"), F.lit("."), F.lit(""))),
            F.lit(1),
        )
        .cast("long")
        .alias("sentences"),
        F.regexp_count(F.col("text"), F.lit("[aeiou]+"))
        .cast("long")
        .alias("vgroups"),
    )
    agg = c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("total_words"),
        F.sum("sentences").cast("long").alias("total_sentences"),
        F.sum("vgroups").cast("long").alias("total_vgroups"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("total_words").cast("double") / F.col("total_sentences"))
        - F.lit(84.6)
        * (F.col("total_vgroups").cast("double") / F.col("total_words"))
    )
    return agg.withColumn(
        "flesch_q", F.floor(flesch * 1e6 + 0.5) / 1e6
    ).orderBy("lang")


@_promoted(
    "mann_whitney_by_type",
    """
    WITH x AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    vt AS (
      SELECT v, event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM x GROUP BY 1, 2
    ),
    cells AS (
      SELECT v, CAST(sum(cnt) AS BIGINT) AS cnt FROM vt GROUP BY 1
    ),
    ranked AS (
      SELECT v, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS rank2
      FROM cells
    ),
    tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_tot,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie
      FROM cells
    ),
    per_type AS (
      SELECT vt.event_type,
             CAST(sum(vt.cnt) AS BIGINT) AS n,
             CAST(sum(vt.cnt * r.rank2) AS BIGINT) AS r2
      FROM vt JOIN ranked r ON r.v = vt.v
      GROUP BY 1
    )
    SELECT event_type, n,
           r2 - n * (n + 1) AS u2,
           floor((CAST(r2 - n * (n + 1) AS DOUBLE) - n * (n_tot - n))
                 / (2 * sqrt(CAST(n AS DOUBLE) * (n_tot - n) / 12
                             * ((n_tot + 1) - CAST(tie AS DOUBLE)
                                          / (CAST(n_tot AS DOUBLE) * (n_tot - 1)))))
                 * 1e6 + 0.5) / 1e6 AS z_q
    FROM per_type CROSS JOIN tot
    ORDER BY event_type
    """,
)
def mann_whitney_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) per event type vs the rest
    — the nonparametric companion to welch_ttest_events, on the same
    distribution-free footing as ks_drift_order_values. The whole
    test reduces to VALUE-LEVEL counts: average ranks are kept as
    2×rank INTEGERS (2·cum_before + cnt + 1 — ties share the exact
    half-unit midrank with no floats), the rank-sum R, U = R−n(n+1)/2
    (returned as exact u2 = 2U BIGINT), and the tie-corrected normal
    approximation z — the ONLY float expression, evaluated in the
    same operation order on both engines from exact integers and
    floor-quantized 1e-6. Engine ranks ride
    operators/windows.py::prefix_sum (no one-task window; the
    value-level frame is |distinct cents|, bounded by the metric's
    domain, not row count); the oracle uses a plain windowed
    cumulative — two plans, identical integers. tie-term Σ(t³−t)
    stays in BIGINT for N up to ~2.6M equal values (2^63^(1/3));
    beyond that switch the tie sum to DECIMAL(38,0)."""
    from dbt_lakehouse_aws_spark.operators.windows import prefix_sum
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
    )
    vt = e.groupBy("v", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cells = vt.groupBy("v").agg(F.sum("cnt").cast("long").alias("cnt"))
    ranked = prefix_sum(cells, [F.asc("v")], "cnt", name="c_incl").select(
        "v", (2 * F.col("c_incl") - F.col("cnt") + 1).alias("rank2")
    )
    tot = cells.agg(
        F.sum("cnt").cast("long").alias("n_tot"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie"),
    )
    per_type = (
        vt.join(ranked, "v")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum(F.col("cnt") * F.col("rank2")).cast("long").alias("r2"),
        )
    )
    n, N = F.col("n"), F.col("n_tot")
    u2 = F.col("r2") - n * (n + 1)
    var = (
        n.cast("double")
        * (N - n)
        / 12
        * ((N + 1) - F.col("tie").cast("double") / (N.cast("double") * (N - 1)))
    )
    z = (u2.cast("double") - n * (N - n)) / (2 * F.sqrt(var))
    return (
        per_type.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n",
            u2.alias("u2"),
            (F.floor(z * 1e6 + 0.5) / 1e6).alias("z_q"),
        )
        .orderBy("event_type")
    )


@_promoted(
    "spearman_qty_price",
    """
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p
      FROM lineitem
    ),
    qr AS (
      SELECT q, 2 * sum(cnt) OVER (ORDER BY q) - cnt + 1 AS rank2
      FROM (SELECT q, CAST(count(*) AS BIGINT) AS cnt FROM li GROUP BY 1)
    ),
    pr AS (
      SELECT p, 2 * sum(cnt) OVER (ORDER BY p) - cnt + 1 AS rank2
      FROM (SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM li GROUP BY 1)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qr.rank2) AS DOUBLE) AS sx,
             CAST(sum(pr.rank2) AS DOUBLE) AS sy,
             CAST(sum(qr.rank2 * qr.rank2) AS DOUBLE) AS sxx,
             CAST(sum(pr.rank2 * pr.rank2) AS DOUBLE) AS syy,
             CAST(sum(qr.rank2 * pr.rank2) AS DOUBLE) AS sxy
      FROM li JOIN qr ON qr.q = li.q JOIN pr ON pr.p = li.p
    )
    SELECT n,
           floor((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 * 1e6 + 0.5) / 1e6 AS spearman_rho
    FROM s
    """,
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    — Pearson on midranks, with the ranks kept as 2×rank INTEGERS
    (exact tie midranks, same half-unit device as
    mann_whitney_by_type) so every sufficient statistic is an exact
    integer: Σr2x, Σr2y, Σr2x², Σr2y², Σr2x·r2y accumulate in
    DECIMAL(38,0) on the engine / HUGEINT in the oracle (no
    float-summation order dependence, no BIGINT overflow: Σrank2²
    passes 2^63 around 2M rows), then ONE double expression — same
    operation order on both engines — floor-quantized 1e-6. Rank
    tables are VALUE-LEVEL (|distinct| rows, built on
    operators/windows.py::prefix_sum, no one-task window); the
    row-level frame joins both rank tables on their value keys —
    quantity's 50-row table broadcasts, the price table is a hash
    join on p — and collapses to one sufficient-stat row."""
    from dbt_lakehouse_aws_spark.operators.windows import prefix_sum
    from dbt_lakehouse_aws_spark.standard_queries import T

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
    )

    def rank2_table(key: str) -> DataFrame:
        cells = li.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        return prefix_sum(cells, [F.asc(key)], "cnt", name="c_incl").select(
            key, (2 * F.col("c_incl") - F.col("cnt") + 1).alias(f"rank2_{key}")
        )

    joined = li.join(F.broadcast(rank2_table("q")), "q").join(rank2_table("p"), "p")
    rx, ry = F.col("rank2_q"), F.col("rank2_p")
    dec = "decimal(38,0)"
    s = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(rx.cast(dec)).cast("double").alias("sx"),
        F.sum(ry.cast(dec)).cast("double").alias("sy"),
        F.sum((rx * rx).cast(dec)).cast("double").alias("sxx"),
        F.sum((ry * ry).cast(dec)).cast("double").alias("syy"),
        F.sum((rx * ry).cast(dec)).cast("double").alias("sxy"),
    )
    n = F.col("n")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "n", (F.floor(rho * 1e6 + 0.5) / 1e6).alias("spearman_rho")
    )


@_promoted(
    "decision_stump_orders",
    """
    WITH lab AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 500000 AS bin,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    h AS (
      SELECT bin, CAST(sum(pos) AS BIGINT) AS p,
             CAST(sum(1 - pos) AS BIGINT) AS g
      FROM lab GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(p) AS BIGINT) AS pt, CAST(sum(g) AS BIGINT) AS gt,
             CAST(max(bin) AS BIGINT) AS max_bin
      FROM h
    ),
    cum AS (
      SELECT a.bin,
             CAST(sum(b.p) AS BIGINT) AS pl, CAST(sum(b.g) AS BIGINT) AS gl
      FROM h a JOIN h b ON b.bin <= a.bin
      GROUP BY a.bin
    ),
    scored AS (
      SELECT cum.bin,
             pl, gl, pt - pl AS pr, gt - gl AS gr,
             1 - ((CAST(pl AS DOUBLE) * pl + CAST(gl AS DOUBLE) * gl)
                    / (pl + gl)
                  + (CAST(pt - pl AS DOUBLE) * (pt - pl)
                     + CAST(gt - gl AS DOUBLE) * (gt - gl))
                    / ((pt - pl) + (gt - gl)))
                 / (pt + gt) AS wgini,
             1 - (CAST(pt AS DOUBLE) * pt + CAST(gt AS DOUBLE) * gt)
                 / (CAST(pt + gt AS DOUBLE) * (pt + gt)) AS parent
      FROM cum CROSS JOIN tot
      WHERE cum.bin < tot.max_bin
    )
    SELECT (bin + 1) * 500000 AS threshold_cents,
           pl + gl AS n_left, pr + gr AS n_right, pl AS pos_left,
           pr AS pos_right,
           floor(wgini * 1e6 + 0.5) / 1e6 AS gini_q,
           floor((parent - wgini) * 1e6 + 0.5) / 1e6 AS gain_q
    FROM scored
    ORDER BY wgini ASC, bin ASC LIMIT 1
    """,
)
def decision_stump_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump training — the split-finding
    kernel of gradient-boosted trees (LightGBM-style): predict
    urgent/high priority from total price by choosing the $5,000-bin
    boundary minimizing weighted Gini impurity. The feature is
    HISTOGRAMMED first (bins bounded by the price domain, NOT row
    count — the property that makes GBDT split finding feasible at
    100 TB: one aggregate pass to per-bin class counts, then all
    candidate splits scored from cumulative counts of a ~120-row
    frame via a tiny self-join, no second data pass). All counts are
    exact integers; the Gini expressions are single double formulas
    in identical operation order on both engines (an exact tie in
    wgini falls back to the smaller bin), floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").select(
        F.floor(F.round(F.col("o_totalprice") * 100).cast("long") / 500000)
        .cast("long")
        .alias("bin"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("pos"),
    )
    h = o.groupBy("bin").agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum(1 - F.col("pos")).cast("long").alias("g"),
    )
    tot = h.agg(
        F.sum("p").cast("long").alias("pt"),
        F.sum("g").cast("long").alias("gt"),
        F.max("bin").cast("long").alias("max_bin"),
    )
    b = h.select(
        F.col("bin").alias("b_bin"), F.col("p").alias("b_p"), F.col("g").alias("b_g")
    )
    cum = (
        h.select("bin")
        .join(F.broadcast(b), F.col("b_bin") <= F.col("bin"))
        .groupBy("bin")
        .agg(
            F.sum("b_p").cast("long").alias("pl"),
            F.sum("b_g").cast("long").alias("gl"),
        )
    )
    pl, gl = F.col("pl"), F.col("gl")
    pt, gt = F.col("pt"), F.col("gt")
    pr, gr = pt - pl, gt - gl
    wgini = 1 - (
        (pl.cast("double") * pl + gl.cast("double") * gl) / (pl + gl)
        + (pr.cast("double") * pr + gr.cast("double") * gr) / (pr + gr)
    ) / (pt + gt)
    parent = 1 - (pt.cast("double") * pt + gt.cast("double") * gt) / (
        (pt + gt).cast("double") * (pt + gt)
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("bin") < F.col("max_bin"))
        .select(
            ((F.col("bin") + 1) * 500000).alias("threshold_cents"),
            (pl + gl).alias("n_left"),
            (pr + gr).alias("n_right"),
            pl.alias("pos_left"),
            pr.alias("pos_right"),
            (F.floor(wgini * 1e6 + 0.5) / 1e6).alias("gini_q"),
            (F.floor((parent - wgini) * 1e6 + 0.5) / 1e6).alias("gain_q"),
            wgini.alias("_w"),
            F.col("bin").alias("_b"),
        )
        .orderBy(F.asc("_w"), F.asc("_b"))
        .limit(1)
        .drop("_w", "_b")
    )


@_promoted(
    "ols_price_qty_disc",
    """
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(CAST(count(*) AS BIGINT) AS BIGINT) AS n_i,
             CAST(CAST(sum(x1) AS BIGINT) AS DOUBLE) AS s1,
             CAST(CAST(sum(x2) AS BIGINT) AS DOUBLE) AS s2,
             CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(sum(x1 * x1) AS BIGINT) AS DOUBLE) AS s11,
             CAST(CAST(sum(x2 * x2) AS BIGINT) AS DOUBLE) AS s22,
             CAST(CAST(sum(x1 * x2) AS BIGINT) AS DOUBLE) AS s12,
             CAST(CAST(sum(x1 * y) AS BIGINT) AS DOUBLE) AS s1y,
             CAST(CAST(sum(x2 * y) AS BIGINT) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM li
    ),
    beta AS (
      SELECT n_i, sy, s1y, s2y, syy, n,
             n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s12 - s11 * s2) AS det,
             sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
               + s2 * (s1y * s12 - s11 * s2y) AS d0,
             n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s2y - s1y * s2) AS d1,
             n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
               + sy * (s1 * s12 - s11 * s2) AS d2
      FROM s
    )
    SELECT n_i AS n,
           floor(d0 / det * 1e6 + 0.5) / 1e6 AS beta0_q,
           floor(d1 / det * 1e6 + 0.5) / 1e6 AS beta1_q,
           floor(d2 / det * 1e6 + 0.5) / 1e6 AS beta2_q,
           floor((1 - (syy - (d0 / det) * sy - (d1 / det) * s1y
                       - (d2 / det) * s2y)
                      / (syy - sy * sy / n))
                 * 1e6 + 0.5) / 1e6 AS r2_q
    FROM beta
    """,
)
def ols_price_qty_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple linear regression (extended price ~
    quantity + discount, with intercept) — the normal equations
    solved by Cramer's rule on a 3×3 Gram matrix whose entries are
    INTEGER sufficient statistics from ONE aggregate pass (the
    multi-feature generalization of a3_regression_slope): n, Σx₁,
    Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y in BIGINT and Σy² in
    DECIMAL(38,0)/HUGEINT (y² crosses 2^63 near 100k rows of cents).
    No gradient iterations, no per-row floats — summation order
    cannot matter; the determinants and R² are single double
    expressions in identical operation order on both engines,
    floor-quantized 1e-6. At 100 TB this is one map-side-combined
    aggregate to 10 numbers, then O(1) driver math."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(x1).cast("long").cast("double").alias("s1"),
        F.sum(x2).cast("long").cast("double").alias("s2"),
        F.sum(y).cast("long").cast("double").alias("sy"),
        F.sum(x1 * x1).cast("long").cast("double").alias("s11"),
        F.sum(x2 * x2).cast("long").cast("double").alias("s22"),
        F.sum(x1 * x2).cast("long").cast("double").alias("s12"),
        F.sum(x1 * y).cast("long").cast("double").alias("s1y"),
        F.sum(x2 * y).cast("long").cast("double").alias("s2y"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("syy"),
    ).withColumn("n", F.col("n_i").cast("double"))
    n = F.col("n")
    s1, s2, sy = F.col("s1"), F.col("s2"), F.col("sy")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    d0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    d1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    d2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    sse = syy - (d0 / det) * sy - (d1 / det) * s1y - (d2 / det) * s2y
    sst = syy - sy * sy / n

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    return s.select(
        F.col("n_i").alias("n"),
        q6(d0 / det).alias("beta0_q"),
        q6(d1 / det).alias("beta1_q"),
        q6(d2 / det).alias("beta2_q"),
        q6(1 - sse / sst).alias("r2_q"),
    )


@_promoted(
    "spatial_grid_nn_customers",
    """
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 48271) % 100000 AS cx,
             (c_custkey * 69621) % 100000 AS cy
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             (s_suppkey * 40692) % 100000 AS sx,
             (s_suppkey * 16807) % 100000 AS sy
      FROM supplier
    ),
    pairs AS (
      SELECT c.c_custkey,
             (c.cx - s.sx) * (c.cx - s.sx)
               + (c.cy - s.sy) * (c.cy - s.sy) AS d2,
             s.s_suppkey
      FROM c CROSS JOIN s
    )
    SELECT c_custkey,
           CAST(min(d2 * 100000 + s_suppkey) % 100000 AS BIGINT)
             AS nearest_suppkey,
           CAST(min(d2 * 100000 + s_suppkey) // 100000 AS BIGINT) AS d2
    FROM pairs
    WHERE d2 <= 64000000
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def spatial_grid_nn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial nearest-neighbor join: every customer
    site finds its closest supplier site within radius 8,000 on a
    synthetic 100k×100k integer plane (coordinates are LCG-mixed
    key residues — exact integers, replayable in SQL). The engine
    assigns suppliers to radius-sized grid cells and each customer
    probes only its 3×3 cell NEIGHBORHOOD (any point within R is at
    most one cell away — the standard fixed-radius-NN grid bound),
    so the join is O(points·9·cell density) and each cell pair is a
    co-partitioned hash join on (cellx, celly); the oracle
    brute-forces the full cross join — quadratic, fine at sf0.01 —
    and must agree exactly. Distances are integer d²; the argmin is
    packed d²·100000+suppkey so min() resolves ties to the smaller
    supplier key with NO floats anywhere (suppkey < 100000 at test
    SFs; repack with a wider radix at larger scale)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    R2 = 64000000
    CELL = 8000
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 48271) % 100000).alias("cx"),
        ((F.col("c_custkey") * 69621) % 100000).alias("cy"),
    )
    s = T(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 40692) % 100000).alias("sx"),
        ((F.col("s_suppkey") * 16807) % 100000).alias("sy"),
    ).select(
        "s_suppkey",
        "sx",
        "sy",
        F.floor(F.col("sx") / CELL).alias("cellx"),
        F.floor(F.col("sy") / CELL).alias("celly"),
    )
    probes = (
        c.withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            "c_custkey",
            "cx",
            "cy",
            (F.floor(F.col("cx") / CELL) + F.col("dx")).alias("cellx"),
            (F.floor(F.col("cy") / CELL) + F.col("dy")).alias("celly"),
        )
    )
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    packed = F.min(d2 * 100000 + F.col("s_suppkey"))
    return (
        probes.join(s, ["cellx", "celly"])
        .filter(d2 <= R2)
        .groupBy("c_custkey")
        .agg(packed.alias("_pk"))
        .select(
            "c_custkey",
            (F.col("_pk") % 100000).cast("long").alias("nearest_suppkey"),
            F.floor(F.col("_pk") / 100000).cast("long").alias("d2"),
        )
        .orderBy("c_custkey")
    )


@_promoted(
    "grouping_sets_events",
    """
    WITH e AS (
      SELECT event_type,
             CAST(EXTRACT(dow FROM ts) + 1 AS BIGINT) AS weekday,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT CAST(2 * grouping(event_type) + grouping(weekday) AS BIGINT)
             AS gid,
           event_type, weekday,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM e
    GROUP BY GROUPING SETS ((event_type), (weekday), ())
    ORDER BY gid, event_type NULLS FIRST, weekday NULLS FIRST
    """,
)
def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id — the third member of the
    multi-aggregate family (cube_events_type_weekday and
    a12_rollup_revenue cover CUBE and ROLLUP): one shuffle computes
    the by-type, by-weekday, and grand-total aggregates, with
    grouping_id() disambiguating real NULLs from subtotal rows —
    the property that makes grouping sets usable at all downstream.
    Spark's grouping_id bit order (first listed column = MSB) is
    replayed in the oracle as 2·grouping(a)+grouping(b); integers
    throughout (counts + exact cents)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").cast("long").alias("weekday"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        e.groupingSets([["event_type"], ["weekday"], []], "event_type", "weekday")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select("gid", "event_type", "weekday", "n", "cents")
        .orderBy(
            "gid",
            F.col("event_type").asc_nulls_first(),
            F.col("weekday").asc_nulls_first(),
        )
    )


@_promoted(
    "bitwise_gauntlet_orders",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(bit_and(o_orderkey) AS BIGINT) AS key_and,
           CAST(bit_or(o_orderkey) AS BIGINT) AS key_or,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor,
           CAST(sum(bit_count(o_orderkey)) AS BIGINT) AS popcount_sum,
           CAST(sum((o_orderkey >> 3) & 1) AS BIGINT) AS bit3_sum,
           CAST(sum((o_orderkey << 2) & 1048575) AS BIGINT) AS shl2_masked_sum,
           CAST(sum(o_orderkey >> 2) AS BIGINT) AS shr2_sum
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def bitwise_gauntlet_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise-function gauntlet: the bit_and/bit_or/bit_xor
    AGGREGATES (all three are commutative-associative monoids —
    map-side combinable, shuffle-safe in any partitioning) plus
    scalar popcount, bit test, masked shifts — each exactly
    integer-replayable. bit_xor over a key column is the classic
    cheap set-digest (two file lists with equal counts + equal xor
    are almost surely equal) and the same device the ACID layer's
    change-feed reconciliation uses."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.bit_and(k).cast("long").alias("key_and"),
            F.bit_or(k).cast("long").alias("key_or"),
            F.bit_xor(k).cast("long").alias("key_xor"),
            F.sum(F.bit_count(k)).cast("long").alias("popcount_sum"),
            F.sum(F.shiftright(k, 3).bitwiseAND(F.lit(1)))
            .cast("long")
            .alias("bit3_sum"),
            F.sum(F.shiftleft(k, 2).bitwiseAND(F.lit(1048575)))
            .cast("long")
            .alias("shl2_masked_sum"),
            F.sum(F.shiftright(k, 2)).cast("long").alias("shr2_sum"),
        )
        .orderBy("o_orderpriority")
    )


@_promoted(
    "dp_noisy_counts_events",
    """
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    seeded AS (
      SELECT event_type, n,
             (CAST(CAST('0x' || substr(
                    md5('dp-seed-1|' || event_type), 1, 15)
                  AS BIGINT) % 999999 AS DOUBLE) + 0.5) / 1000000 AS u
      FROM c
    )
    SELECT event_type,
           floor((n - 2.0 * CASE WHEN u > 0.5 THEN 1 ELSE -1 END
                        * ln(1 - abs(2 * u - 1)))
                 * 1e6 + 0.5) / 1e6 AS noisy_n_q
    FROM seeded ORDER BY event_type
    """,
)
def dp_noisy_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private event counts via the Laplace
    mechanism with a DETERMINISTIC seed: the uniform draw comes from
    the portable 60-bit md5 prefix of (seed|key) — the same
    cross-engine hash the MinHash oracle replays — pushed through
    the inverse Laplace CDF (b = sensitivity/ε = 1/0.5). Seeded DP
    is how production pipelines make private releases REPRODUCIBLE
    (re-running the job must not leak a fresh noise draw of the same
    statistic — the classic averaging attack); determinism is also
    what makes the mechanism value-oracle-able at all. ln() may
    differ across engines by ~1 ulp of a |value| ≤ ~14, i.e. 1e-15
    — nine orders below the 1e-6 quantum; the seed is fixed, so a
    green compare is stable, not a coin flip."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    c = T(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dp-seed-1|"), F.col("event_type"))), 1, 15),
        16,
        10,
    ).cast("long")
    u = ((h % 999999).cast("double") + 0.5) / 1000000
    noise = (
        F.lit(2.0)
        * F.when(u > 0.5, 1).otherwise(-1)
        * F.log(1 - F.abs(2 * u - 1))
    )
    return c.select(
        "event_type",
        (F.floor((F.col("n") - noise) * 1e6 + 0.5) / 1e6).alias("noisy_n_q"),
    ).orderBy("event_type")


@_promoted(
    "item_cf_topk_parts",
    """
    WITH inter AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    capped AS (
      SELECT u, i FROM inter
      WHERE u IN (SELECT u FROM inter GROUP BY u HAVING count(*) <= 100)
    ),
    icnt AS (
      SELECT i, CAST(count(*) AS BIGINT) AS n FROM capped GROUP BY i
    ),
    pairs AS (
      SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS co
      FROM capped a JOIN capped b ON b.u = a.u AND b.i <> a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.i, p.j, p.co,
             CAST(floor(CAST(p.co AS DOUBLE)
                        / sqrt(CAST(ni.n AS DOUBLE) * nj.n)
                        * 1e6 + 0.5) AS BIGINT) AS score_q
      FROM pairs p
      JOIN icnt ni ON ni.i = p.i
      JOIN icnt nj ON nj.i = p.j
    ),
    top_items AS (
      SELECT i FROM icnt ORDER BY n DESC, i ASC LIMIT 20
    ),
    ranked AS (
      SELECT s.*, row_number() OVER (
               PARTITION BY s.i ORDER BY s.score_q DESC, s.j ASC) AS rk
      FROM scored s JOIN top_items t ON t.i = s.i
    )
    SELECT i, j, co, score_q, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY i, rk
    """,
)
def item_cf_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering — co-occurrence cosine,
    the workhorse recommender: customers×parts interactions from
    the orders⋈lineitem join, a DEGREE CAP (customers with ≤100
    distinct parts — the standard bound that keeps the self-join
    fan-out ≤ cap² per user instead of quadratic in the heaviest
    key), pair counts from a self-join co-partitioned on the user
    key, cosine co/√(nᵢ·nⱼ) QUANTIZED TO AN INTEGER score before
    ranking (ranks compare exact integers with a key tiebreak — a
    last-ulp float difference can never flip the top-k), top-3
    neighbors for the 20 most-interacted parts. The per-item window
    is partitioned by item — a hash exchange, never one task."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("u")
    )
    l = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("i")
    )
    inter = o.join(l, "ok").select("u", "i").distinct()
    deg_ok = inter.groupBy("u").count().filter(F.col("count") <= 100).select("u")
    capped = inter.join(deg_ok, "u").persist()
    icnt = capped.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("n"))
    top_items = icnt.orderBy(F.desc("n"), F.asc("i")).limit(20).select("i")
    # only pairs anchored at a top item ever reach the output, so the
    # anchor side shrinks to Σ_top n_i rows BEFORE the u-key self-join
    # — fan-out ≤ |top∩user|·deg per user instead of deg² — without
    # changing any score (co and n_j are computed over the full set).
    anchored = capped.join(F.broadcast(top_items), "i")
    b = capped.select("u", F.col("i").alias("j"))
    pairs = (
        anchored.join(b, "u")
        .filter(F.col("j") != F.col("i"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )
    scored = (
        pairs.join(F.broadcast(icnt.withColumnsRenamed({"i": "i", "n": "ni"})), "i")
        .join(
            F.broadcast(icnt.select(F.col("i").alias("j"), F.col("n").alias("nj"))),
            "j",
        )
        .select(
            "i",
            "j",
            "co",
            F.floor(
                F.col("co").cast("double")
                / F.sqrt(F.col("ni").cast("double") * F.col("nj"))
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("score_q"),
        )
    )
    w = Window.partitionBy("i").orderBy(F.desc("score_q"), F.asc("j"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("i", "j", "co", "score_q", "rk")
        .orderBy("i", "rk")
    )


@_promoted(
    "max_drawdown_users",
    """
    WITH x AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             ts, event_id
      FROM events
    ),
    dd AS (
      SELECT user_id, CAST(max(runmax - cum) AS BIGINT) AS drawdown
      FROM (
        SELECT user_id, cum,
               max(cum) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS runmax
        FROM (
          SELECT user_id, ts, event_id,
                 sum(cents) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS cum
          FROM x
        )
      )
      GROUP BY user_id
    )
    SELECT user_id, drawdown FROM dd
    ORDER BY drawdown DESC, user_id ASC LIMIT 20
    """,
)
def max_drawdown_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user — the classic risk statistic
    (largest peak-to-trough drop of the cumulative value series),
    all in exact integer cents: per-user running sum, per-user
    running MAX of that sum, max(peak − cum). Every window is
    PARTITIONED BY user — hash exchanges over millions of balanced
    keys, never a one-task global window — so the op scales with
    users × events-per-user; the total order inside each partition
    is (ts, event_id), deterministic under same-timestamp events.
    Top-20 drawdowns."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    x = T(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "ts",
        "event_id",
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = x.withColumn("cum", F.sum("cents").over(wseq))
    dd = cum.withColumn(
        "runmax", F.max("cum").over(wseq)
    ).groupBy("user_id").agg(
        F.max(F.col("runmax") - F.col("cum")).cast("long").alias("drawdown")
    )
    return dd.orderBy(F.desc("drawdown"), F.asc("user_id")).limit(20)


@_promoted(
    "fifo_match_returns_parts",
    """
    WITH li AS (
      SELECT l_partkey AS part,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100 / l_quantity + 0.5)
                  AS BIGINT) AS unit_cents,
             l_returnflag = 'R' AS is_sell,
             l_shipdate, l_orderkey, l_linenumber
      FROM lineitem
    ),
    buys AS (
      SELECT part, qty, unit_cents,
             sum(qty) OVER (PARTITION BY part
                            ORDER BY l_shipdate, l_orderkey, l_linenumber)
               AS b_end
      FROM li WHERE NOT is_sell
    ),
    sells AS (
      SELECT part, qty,
             sum(qty) OVER (PARTITION BY part
                            ORDER BY l_shipdate, l_orderkey, l_linenumber)
               AS s_end
      FROM li WHERE is_sell
    ),
    matched AS (
      SELECT b.part,
             least(b.b_end, s.s_end)
               - greatest(b.b_end - b.qty, s.s_end - s.qty) AS m,
             b.unit_cents
      FROM buys b JOIN sells s
        ON s.part = b.part
       AND b.b_end - b.qty < s.s_end
       AND s.s_end - s.qty < b.b_end
    )
    SELECT part,
           CAST(sum(m) AS BIGINT) AS matched_qty,
           CAST(sum(m * unit_cents) AS BIGINT) AS matched_cost_cents,
           CAST(count(*) AS BIGINT) AS n_lots
    FROM matched GROUP BY part
    ORDER BY matched_qty DESC, part ASC LIMIT 20
    """,
)
def fifo_match_returns_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO cost allocation as INTERVAL ALGEBRA — the inventory/tax
    lot-matching kernel with no per-row iteration: per part, buys
    (non-return lineitems) and sells (returns) each get cumulative
    quantity intervals [cum−qty, cum) in ship order, and FIFO
    matching is exactly interval intersection — lot b fills return s
    by least(ends)−greatest(starts) whenever the intervals overlap.
    The sequential pop-the-queue algorithm becomes a self-join on
    (part, interval-overlap): per-part windows are hash exchanges,
    the overlap join touches O(lots + matches) pairs (each buy
    overlaps a contiguous run of sells — at most matches + lots
    pairs, never lots²), and every quantity/cost is an exact integer
    (unit price floor(·+0.5)-quantized to cents once, identically on
    both engines). Top-20 parts by matched quantity."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 / F.col("l_quantity") + 0.5)
        .cast("long")
        .alias("unit_cents"),
        (F.col("l_returnflag") == "R").alias("is_sell"),
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("part").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    buys = (
        li.filter(~F.col("is_sell"))
        .withColumn("b_end", F.sum("qty").over(w))
        .select("part", "qty", "unit_cents", "b_end")
    )
    sells = (
        li.filter(F.col("is_sell"))
        .withColumn("s_end", F.sum("qty").over(w))
        .select("part", F.col("qty").alias("s_qty"), "s_end")
    )
    m = F.least(F.col("b_end"), F.col("s_end")) - F.greatest(
        F.col("b_end") - F.col("qty"), F.col("s_end") - F.col("s_qty")
    )
    return (
        buys.join(
            sells,
            (sells["part"] == buys["part"])
            & (buys["b_end"] - buys["qty"] < sells["s_end"])
            & (sells["s_end"] - sells["s_qty"] < buys["b_end"]),
        )
        .drop(sells["part"])
        .groupBy("part")
        .agg(
            F.sum(m).cast("long").alias("matched_qty"),
            F.sum(m * F.col("unit_cents")).cast("long").alias("matched_cost_cents"),
            F.count(F.lit(1)).cast("long").alias("n_lots"),
        )
        .orderBy(F.desc("matched_qty"), F.asc("part"))
        .limit(20)
    )


@_promoted(
    "als_user_step_lineitem",
    """
    WITH r AS (
      SELECT o.o_custkey AS u, l.l_partkey AS i,
             CAST(l.l_quantity AS BIGINT) AS rating
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    f AS (
      SELECT DISTINCT i,
             (i * 2654435761) % 1000 - 500 AS f1,
             (i * 40503) % 1000 - 500 AS f2
      FROM r
    ),
    s AS (
      SELECT r.u,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(f.f1 * f.f1) AS BIGINT) AS a11,
             CAST(sum(f.f1 * f.f2) AS BIGINT) AS a12,
             CAST(sum(f.f2 * f.f2) AS BIGINT) AS a22,
             CAST(sum(r.rating * f.f1) AS BIGINT) AS b1,
             CAST(sum(r.rating * f.f2) AS BIGINT) AS b2
      FROM r JOIN f ON f.i = r.i
      GROUP BY r.u
    ),
    solved AS (
      SELECT u, n,
             CAST(a11 AS DOUBLE) / 1e6 + 0.1 AS m11,
             CAST(a12 AS DOUBLE) / 1e6 AS m12,
             CAST(a22 AS DOUBLE) / 1e6 + 0.1 AS m22,
             CAST(b1 AS DOUBLE) / 1e3 AS v1,
             CAST(b2 AS DOUBLE) / 1e3 AS v2
      FROM s
    )
    SELECT u, n,
           floor((m22 * v1 - m12 * v2) / (m11 * m22 - m12 * m12)
                 * 1e6 + 0.5) / 1e6 AS x1_q,
           floor((m11 * v2 - m12 * v1) / (m11 * m22 - m12 * m12)
                 * 1e6 + 0.5) / 1e6 AS x2_q
    FROM solved ORDER BY n DESC, u ASC LIMIT 20
    """,
)
def als_user_step_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact ALS half-step — the building block of alternating
    least squares recommenders: with item factors FROZEN to
    hash-derived integer thousandths (deterministic init, exact in
    SQL), each user's rank-2 factor vector solves the 2×2 ridge
    system (A/1e6 + λI)x = b/1e3 in closed form. The Gram entries
    Σf₁², Σf₁f₂, Σf₂² and the right side Σr·f accumulate as exact
    INTEGERS (summation order can't matter — the trap in naive
    float-factor ALS), one map-side-combinable aggregate per user;
    the 2×2 Cramer solve is a single double expression, identical
    op order both engines, floor-quantized 1e-6. λ=0.1. At 100 TB
    this is precisely distributed ALS's shape: broadcast/join the
    frozen side, one grouped aggregate, per-key O(k²) solves.
    Top-20 users by rating count."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("u")
    )
    l = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("i"),
        F.col("l_quantity").cast("long").alias("rating"),
    )
    r = o.join(l, "ok").select("u", "i", "rating")
    f = r.select("i").distinct().select(
        "i",
        ((F.col("i") * 2654435761) % 1000 - 500).alias("f1"),
        ((F.col("i") * 40503) % 1000 - 500).alias("f2"),
    )
    s = (
        r.join(f, "i")
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("f1") * F.col("f1")).cast("long").alias("a11"),
            F.sum(F.col("f1") * F.col("f2")).cast("long").alias("a12"),
            F.sum(F.col("f2") * F.col("f2")).cast("long").alias("a22"),
            F.sum(F.col("rating") * F.col("f1")).cast("long").alias("b1"),
            F.sum(F.col("rating") * F.col("f2")).cast("long").alias("b2"),
        )
    )
    a11 = F.col("a11").cast("double") / 1e6 + 0.1
    a12 = F.col("a12").cast("double") / 1e6
    a22 = F.col("a22").cast("double") / 1e6 + 0.1
    b1 = F.col("b1").cast("double") / 1e3
    b2 = F.col("b2").cast("double") / 1e3
    det = a11 * a22 - a12 * a12
    x1 = (a22 * b1 - a12 * b2) / det
    x2 = (a11 * b2 - a12 * b1) / det

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    return (
        s.select("u", "n", q6(x1).alias("x1_q"), q6(x2).alias("x2_q"))
        .orderBy(F.desc("n"), F.asc("u"))
        .limit(20)
    )


from dbt_lakehouse_aws_spark.sources.tables import T  # noqa: E402


@_promoted(
    "link_prediction_capped_users",
    """
    WITH PLACEHOLDER_CAPPED_PRELUDE,
    sym AS (
      SELECT a AS node, b AS nbr, shared FROM strong
      UNION ALL SELECT b, a, shared FROM strong
    ),
    ranked AS (
      SELECT node, nbr,
             row_number() OVER (PARTITION BY node
                                ORDER BY shared DESC, nbr ASC) AS rk
      FROM sym
    ),
    kept_dir AS (SELECT node, nbr FROM ranked WHERE rk <= 16),
    capped AS MATERIALIZED (
      SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b
      FROM kept_dir
    ),
    nbrs AS MATERIALIZED (
      SELECT a AS node, b AS nbr FROM capped UNION ALL SELECT b, a FROM capped
    ),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1),
    wedges AS (
      SELECT w1.node AS node_a, w2.node AS node_b, CAST(count(*) AS BIGINT) AS common
      FROM (SELECT nbr AS w, node FROM nbrs) w1
      JOIN (SELECT nbr AS w, node FROM nbrs) w2 ON w2.w = w1.w
      WHERE w1.node < w2.node
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    cand AS (
      SELECT w.node_a, w.node_b, w.common FROM wedges w
      WHERE NOT EXISTS (SELECT 1 FROM capped c
                        WHERE c.a = w.node_a AND c.b = w.node_b)
    )
    SELECT c.node_a AS user_a, c.node_b AS user_b, c.common,
           round(CAST(c.common AS DOUBLE)
                 / (da.deg + db.deg - c.common), 6) AS jaccard
    FROM cand c
    JOIN deg da ON da.node = c.node_a
    JOIN deg db ON db.node = c.node_b
    ORDER BY jaccard DESC, user_a ASC, user_b ASC
    LIMIT 30
    """,
)
def link_prediction_capped_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the SLOT-BOUNDED + NEIGHBOR-CAPPED
    co-activity graph — the documented 100 TB degeneracy control for
    the Sigma-deg^2 wedge family (VERDICT r5 plan audit; re-based in
    round 9 per VERDICT r8 item 1: ``cap_neighbors`` bounded wedge
    work at n*k^2 but CONSUMED a Θ(sf²) pair join — 77× measured
    pair-work on 10× data — so the cap now also applies one stage
    earlier, at the (event_type, hour) slot). Construction:
    ``coactivity_weighted_capped`` keeps each slot's top-32
    most-active participants (activity DESC, id ASC — deterministic)
    bounding pair work at slots·C(32,2); then each node keeps its
    top-16 strongest neighbors (shared DESC, id ASC), edges survive
    if EITHER endpoint keeps them (kNN symmetrization), and
    common-neighbor Jaccard runs on that graph. The oracle replays
    both caps with rank windows — a DIFFERENT, fully-specified
    estimand, not an approximation of the uncapped query (which
    keeps its own exact oracle at sf <= 0.1 as calibration-class
    evidence); measured at sf1.0 in PERF.md where the uncapped form
    times out."""
    from dbt_lakehouse_aws_spark.operators.coactivity import (
        coactivity_weighted_capped,
    )
    from dbt_lakehouse_aws_spark.operators.graph import (
        cap_neighbors,
        common_neighbor_scores,
    )

    weighted = coactivity_weighted_capped(spark, sf_dir, min_shared=3)
    capped = cap_neighbors(weighted, k=16, weight="shared")
    scores = common_neighbor_scores(capped, src="a", dst="b", min_common=2)
    return (
        scores.select(
            F.col("node_a").alias("user_a"),
            F.col("node_b").alias("user_b"),
            "common",
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("user_a"), F.asc("user_b"))
        .limit(30)
    )


@_promoted(
    "triangle_counts_capped_events",
    """
    WITH PLACEHOLDER_CAPPED_PRELUDE,
    sym AS (
      SELECT a AS node, b AS nbr, shared FROM strong
      UNION ALL SELECT b, a, shared FROM strong
    ),
    ranked AS (
      SELECT node, nbr,
             row_number() OVER (PARTITION BY node
                                ORDER BY shared DESC, nbr ASC) AS rk
      FROM sym
    ),
    capped AS MATERIALIZED (
      SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b
      FROM ranked WHERE rk <= 16
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM capped e1
      JOIN capped e2 ON e2.a = e1.b
      JOIN capped e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
      SELECT node, count(*) AS triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      GROUP BY node
    ),
    nodes AS (SELECT a AS node FROM capped UNION SELECT b FROM capped)
    SELECT n.node AS user_id,
           CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles
    FROM nodes n LEFT JOIN per_node p ON p.node = n.node
    ORDER BY triangles DESC, user_id ASC LIMIT 20
    """,
)
def triangle_counts_capped_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the SLOT-BOUNDED + NEIGHBOR-CAPPED
    co-activity graph — the second member of the capped wedge family
    (link_prediction_capped_users explains the two-stage estimand,
    re-based in round 9 per VERDICT r8 item 1): top-32 participants
    per (event_type, hour) slot bound the pair JOIN, then top-16
    strongest neighbors per node + kNN symmetrization bound the wedge
    volume at n*k^2 however dense the raw graph gets. The oracle
    replays both caps with rank windows and counts the same triangles
    with the naive ordered triple join — a genuinely different
    algorithm agreeing on exact integers. Top-20 most clustered
    users."""
    from dbt_lakehouse_aws_spark.operators.coactivity import (
        coactivity_weighted_capped,
    )
    from dbt_lakehouse_aws_spark.operators.graph import (
        cap_neighbors,
        triangle_counts,
    )

    weighted = coactivity_weighted_capped(spark, sf_dir, min_shared=3)
    capped = cap_neighbors(weighted, k=16, weight="shared")
    return (
        triangle_counts(capped, src="a", dst="b")
        .select(F.col("node").alias("user_id"), "triangles")
        .orderBy(F.desc("triangles"), F.asc("user_id"))
        .limit(20)
    )


for _n in ("link_prediction_capped_users", "triangle_counts_capped_events"):
    _PROMOTED_ORACLES[_n] = _PROMOTED_ORACLES[_n].replace(
        "PLACEHOLDER_CAPPED_PRELUDE", _coactivity_capped_sql().strip().rstrip()
    )


# ---------------------------------------------------------------------------
# Registration: runs AFTER every definition and placeholder-oracle
# fixup above, so each query enters the registry with its final
# oracle (bfs/LPA/CDC patch their unrolled SQL post-definition).
# ---------------------------------------------------------------------------
from dbt_lakehouse_aws_spark.standard_queries import register as _register  # noqa: E402

for _name in list(_PROMOTED_QUERIES):
    _register(_name, _PROMOTED_ORACLES[_name])(_PROMOTED_QUERIES[_name])
