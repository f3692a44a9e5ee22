"""Round-6 queries, promoted from staging (``staged_r6.py``) into
the main registry — the FIRST 50 of the round-5 staging file in file
order, per the ROUND-6/7/8 PLAN comment in ``standard_queries.py``.

Each ``@register`` below appends to ``standard_queries._REGISTRY``
exactly like an in-file registration — ``standard_queries`` imports
this module before it builds the driver window, so the names
participate in ``queries()`` / ``oracle_sql()`` and the
entry-contract / plan-lint suites like any other query. Every query
was oracle-verified at sf0.001 AND sf0.01, plan-linted, perf-audited
at sf0.1, and checked under a vanilla ANSI session during round 5
BEFORE promotion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from dbt_lakehouse_aws_spark.localframe import local_frame
from dbt_lakehouse_aws_spark.operators.coactivity import coactivity_edges_sql as _coactivity_edges_sql
from dbt_lakehouse_aws_spark.standard_queries import T, register  # noqa: F401


@register(
    "part_hierarchy_rollup",
    """
    WITH RECURSIVE rev AS (
      SELECT l_partkey AS node,
             CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    parents AS (
      SELECT p_partkey AS child, p_partkey // 8 AS parent
      FROM part WHERE p_partkey // 8 >= 1
    ),
    anc(node, anc) AS (
      SELECT child, parent FROM parents
      UNION
      SELECT a.node, p.parent FROM anc a JOIN parents p ON p.child = a.anc
    ),
    contrib AS (
      SELECT node AS target, cents FROM rev
      UNION ALL
      SELECT a.anc, r.cents FROM rev r JOIN anc a ON a.node = r.node
    )
    SELECT target AS node, CAST(sum(cents) AS BIGINT) AS subtree_cents
    FROM contrib GROUP BY 1
    ORDER BY subtree_cents DESC, node ASC LIMIT 20
    """,
)
def part_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup (operators/graph.py::
    subtree_rollup over ancestor_closure): parts form a synthetic
    8-ary forest (parent = partkey div 8), revenue rolls up every
    node's ENTIRE subtree. The engine closes the hierarchy by
    POINTER DOUBLING — ⌈log₂ depth⌉ self-joins, not depth sequential
    ones, the 100 TB answer to Spark's missing recursive CTE — while
    the oracle uses DuckDB's actual recursive CTE: two different
    fixpoint algorithms agreeing on exact integer cents. Top-20
    subtrees."""
    from dbt_lakehouse_aws_spark.operators.graph import subtree_rollup

    from dbt_lakehouse_aws_spark.standard_queries import T

    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    rev = l.groupBy(F.col("l_partkey").alias("node")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100)).cast("long").alias("cents")
    )
    parents = p.select(
        F.col("p_partkey").alias("child"),
        (F.col("p_partkey") / 8).cast("long").alias("parent"),
    ).filter(F.col("parent") >= 1)
    out = subtree_rollup(parents, rev, node_col="node", value_col="cents")
    return (
        out.select("node", F.col("subtree_total").cast("long").alias("subtree_cents"))
        .orderBy(F.desc("subtree_cents"), F.asc("node"))
        .limit(20)
    )


@register(
    "seasonal_naive_backtest",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, isodow(CAST(ts AS DATE)) AS wd,
             CAST(sum(round(value * 100)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    train AS (SELECT * FROM daily WHERE day < DATE '2024-03-01'),
    test AS (SELECT * FROM daily WHERE day >= DATE '2024-03-01'),
    fc AS (
      SELECT wd, sum(cents) / count(*) AS fc_cents FROM train GROUP BY wd
    )
    SELECT CAST(count(*) AS BIGINT) AS n_test_days,
           round(avg(abs(t.cents - f.fc_cents) / t.cents), 6) AS mape,
           round(avg((t.cents - f.fc_cents) / t.cents), 6) AS bias
    FROM test t JOIN fc f ON f.wd = t.wd
    """,
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real
    forecaster must beat, as an engine op: train on Jan-Feb daily
    revenue, forecast each March day with its ISO-weekday train mean,
    score MAPE + signed bias on the held-out days. Everything is two
    hash aggregates + a 7-row broadcast join; revenue travels as
    integer cents so the train means are exact rationals."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        (F.weekday(F.to_date("ts")) + 1).alias("wd"),
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))
    cut = F.lit("2024-03-01").cast("date")
    train = daily.filter(F.col("day") < cut)
    test = daily.filter(F.col("day") >= cut)
    fc = train.groupBy("wd").agg(
        (F.sum("cents") / F.count(F.lit(1))).alias("fc_cents")
    )
    err = (F.col("cents") - F.col("fc_cents")) / F.col("cents")
    return (
        test.join(F.broadcast(fc), "wd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_days"),
            F.round(F.avg(F.abs(err)), 6).alias("mape"),
            F.round(F.avg(err), 6).alias("bias"),
        )
    )


@register(
    "blocking_quality_parts",
    """
    WITH dirty AS (
      SELECT p_partkey AS dirty_key,
             CASE p_partkey % 3
               WHEN 0 THEN p_name
               WHEN 1 THEN concat(substring(p_name, 1, p_partkey % (length(p_name) - 1)),
                                  substring(p_name, p_partkey % (length(p_name) - 1) + 2))
               ELSE concat(substring(p_name, 1, p_partkey % (length(p_name) - 1)),
                           substring(p_name, p_partkey % (length(p_name) - 1) + 2, 1),
                           substring(p_name, p_partkey % (length(p_name) - 1) + 1, 1),
                           substring(p_name, p_partkey % (length(p_name) - 1) + 3))
             END AS dirty_name
      FROM part
    ),
    truth AS (
      SELECT p.p_partkey,
             substring(p.p_name, 1, 1) = substring(d.dirty_name, 1, 1) AS caught
      FROM part p JOIN dirty d ON d.dirty_key = p.p_partkey
      WHERE round(jaro_winkler_similarity(p.p_name, d.dirty_name), 6) >= 0.92
    ),
    cb AS (SELECT substring(p_name, 1, 1) AS blk, count(*) AS nc FROM part GROUP BY 1),
    db AS (SELECT substring(dirty_name, 1, 1) AS blk, count(*) AS nd FROM dirty GROUP BY 1),
    cand AS (
      SELECT CAST(coalesce(sum(nc * nd), 0) AS BIGINT) AS n_candidates
      FROM cb JOIN db USING (blk)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part)
    SELECT tot.n_parts,
           cand.n_candidates,
           round(1.0 - CAST(cand.n_candidates AS DOUBLE)
                       / (CAST(tot.n_parts AS DOUBLE) * tot.n_parts), 6)
             AS reduction_ratio,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_matches,
           round(CAST((SELECT count(*) FILTER (caught) FROM truth) AS DOUBLE)
                 / (SELECT count(*) FROM truth), 6) AS pair_completeness
    FROM tot CROSS JOIN cand
    """,
)
def blocking_quality_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality metrics for the record-linkage family — the
    two numbers an entity-resolution pipeline tunes its blocking key
    by: REDUCTION RATIO (1 − candidates/all-pairs, here first-letter
    blocking, counted from per-block SIZE aggregates — the pair set
    is never materialized, which is the point at 100 TB) and PAIR
    COMPLETENESS (fraction of true matches the blocking keeps; the
    typo generator mutates position 1 for some keys, so it is
    genuinely < 1). Ground-truth matches reuse the bit-exact JW
    kernel at the linkage threshold, scored only on the n identity
    pairs."""
    from dbt_lakehouse_aws_spark.llmops.linkage import jw_linkage
    from dbt_lakehouse_aws_spark.queries_r5 import _DIRTY_NAME_SQL
    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part")
    clean = p.select("p_partkey", "p_name").withColumn("blk", F.col("p_partkey"))
    dirty = p.select(
        F.col("p_partkey").alias("dirty_key"),
        F.expr(_DIRTY_NAME_SQL).alias("dirty_name"),
    ).withColumn("blk", F.col("dirty_key"))
    truth = jw_linkage(
        clean,
        dirty,
        left_id="p_partkey",
        right_id="dirty_key",
        left_text="p_name",
        right_text="dirty_name",
        block_col="blk",
        threshold=0.92,
    )
    names = clean.select("p_partkey", "p_name").join(
        dirty.select("dirty_key", "dirty_name"),
        F.col("p_partkey") == F.col("dirty_key"),
    )
    truth_flags = truth.select("p_partkey").join(names, "p_partkey").select(
        "p_partkey",
        (
            F.substring("p_name", 1, 1) == F.substring("dirty_name", 1, 1)
        ).alias("caught"),
    )
    cb = clean.groupBy(F.substring("p_name", 1, 1).alias("blk_c")).agg(
        F.count(F.lit(1)).alias("nc")
    )
    db = dirty.groupBy(F.substring("dirty_name", 1, 1).alias("blk_d")).agg(
        F.count(F.lit(1)).alias("nd")
    )
    cand = cb.join(db, cb.blk_c == db.blk_d).agg(
        F.coalesce(F.sum(F.col("nc") * F.col("nd")), F.lit(0))
        .cast("long")
        .alias("n_candidates")
    )
    tot = p.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    tstats = truth_flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_matches"),
        F.sum(F.col("caught").cast("long")).alias("n_caught"),
    )
    return (
        tot.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(tstats))
        .select(
            "n_parts",
            "n_candidates",
            F.round(
                1.0
                - F.col("n_candidates").cast("double")
                / (F.col("n_parts").cast("double") * F.col("n_parts")),
                6,
            ).alias("reduction_ratio"),
            "n_true_matches",
            F.round(
                F.col("n_caught").cast("double") / F.col("n_true_matches"), 6
            ).alias("pair_completeness"),
        )
    )


@register(
    "conformal_interval_coverage",
    """
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderkey % 2 = 0 AS is_calib
      FROM orders
    ),
    pred AS (
      SELECT grp, sum(cents) / count(*) AS mu
      FROM base WHERE is_calib GROUP BY grp
    ),
    resid AS (
      SELECT b.grp, b.is_calib, abs(b.cents - p.mu) AS r
      FROM base b JOIN pred p ON p.grp = b.grp
    ),
    q AS (
      SELECT grp, quantile_disc(r, 0.9) AS q90
      FROM resid WHERE is_calib GROUP BY grp
    )
    SELECT r.grp AS priority,
           CAST(count(*) AS BIGINT) AS n_test,
           round(avg(CASE WHEN r.r <= q.q90 THEN 1.0 ELSE 0.0 END), 6)
             AS coverage,
           round(q.q90 / 100, 2) AS interval_halfwidth
    FROM resid r JOIN q ON q.grp = r.grp
    WHERE NOT r.is_calib
    GROUP BY r.grp, q.q90
    """,
)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals — the distribution-free
    uncertainty wrapper an ML-serving pipeline calibrates offline:
    even orderkeys are the calibration split, the predictor is the
    per-priority calibration mean (exact rational cents), the
    interval half-width is the DISCRETE 90th percentile of
    calibration |residuals| (percentile_disc returns an actual data
    value — no interpolation, so both engines pick the identical
    element), and the reported number is held-out coverage per
    priority. Two aggregates + two broadcast joins; nothing leaves
    integer/rational arithmetic until the final division."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 2 == 0).alias("is_calib"),
    )
    pred = (
        base.filter("is_calib")
        .groupBy("grp")
        .agg((F.sum("cents") / F.count(F.lit(1))).alias("mu"))
    )
    resid = base.join(F.broadcast(pred), "grp").select(
        "grp", "is_calib", F.abs(F.col("cents") - F.col("mu")).alias("r")
    )
    q = (
        resid.filter("is_calib")
        .groupBy("grp")
        .agg(
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY r)").alias("q90")
        )
    )
    test = resid.filter(~F.col("is_calib")).join(F.broadcast(q), "grp")
    return test.groupBy(F.col("grp").alias("priority"), "q90").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(
            F.avg(F.when(F.col("r") <= F.col("q90"), 1.0).otherwise(0.0)), 6
        ).alias("coverage"),
    ).select(
        "priority",
        "n_test",
        "coverage",
        F.round(F.col("q90") / 100, 2).alias("interval_halfwidth"),
    )


@register(
    "heaps_law_vocab_growth",
    """
    WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
    toks AS (
      SELECT CAST(doc_id * 10 // mx.m AS BIGINT) AS bucket,
             unnest(string_split(text, ' ')) AS term
      FROM documents, mx
    ),
    first_seen AS (
      SELECT term, min(bucket) AS fb FROM toks GROUP BY term
    ),
    per_bucket AS (
      SELECT fb, count(*) AS new_terms FROM first_seen GROUP BY fb
    ),
    tok_per_bucket AS (
      SELECT bucket, count(*) AS n_tokens FROM toks GROUP BY bucket
    ),
    grid AS (SELECT DISTINCT bucket FROM tok_per_bucket)
    SELECT g.bucket,
           CAST(sum(t.n_tokens) AS BIGINT) AS corpus_tokens,
           CAST(sum(coalesce(p.new_terms, 0)) AS BIGINT) AS vocab_size
    FROM grid g
    JOIN tok_per_bucket t ON t.bucket <= g.bucket
    LEFT JOIN per_bucket p ON p.fb = t.bucket
    GROUP BY g.bucket
    ORDER BY g.bucket
    """,
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct
    vocabulary vs cumulative token count at ten corpus prefixes (by
    doc_id decile) — the diagnostic that tells a tokenizer-training
    pipeline whether more data still buys vocabulary. Each term is
    attributed to its FIRST bucket (one groupBy, O(vocab) shuffle);
    the cumulative curve is a 10×10 non-equi self-join on the tiny
    per-bucket frame — no window, no single-partition exchange."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.llmops.text import tokens_col

    d = T(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + 1).alias("m"))
    toks = (
        d.crossJoin(F.broadcast(mx))
        .select(
            (F.col("doc_id") * 10 / F.col("m")).cast("long").alias("bucket"),
            F.explode(tokens_col("text")).alias("term"),
        )
    )
    first_seen = toks.groupBy("term").agg(F.min("bucket").alias("fb"))
    per_bucket = first_seen.groupBy("fb").agg(
        F.count(F.lit(1)).alias("new_terms")
    )
    tok_per_bucket = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    grid = tok_per_bucket.select("bucket").distinct()
    joined = (
        grid.alias("g")
        .join(
            tok_per_bucket.alias("t"),
            F.col("t.bucket") <= F.col("g.bucket"),
        )
        .join(
            F.broadcast(per_bucket).alias("p"),
            F.col("p.fb") == F.col("t.bucket"),
            "left",
        )
    )
    return (
        joined.groupBy(F.col("g.bucket").alias("bucket"))
        .agg(
            F.sum("t.n_tokens").cast("long").alias("corpus_tokens"),
            F.sum(F.coalesce("p.new_terms", F.lit(0))).cast("long").alias(
                "vocab_size"
            ),
        )
        .orderBy("bucket")
    )


@register(
    "incremental_agg_maintenance_events",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           round(min(value), 2) AS min_v,
           round(max(value), 2) AS max_v,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def incremental_agg_maintenance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the January-February
    aggregate is the standing MV, March arrives as a delta batch, and
    the served result MERGES the two partial states (counts/sums add,
    min/max combine, distinct-users via the union of per-partition
    key sets — here re-aggregated from the two halves' key lists) —
    never rescanning history. The oracle recomputes from scratch over
    the full table: merged partial states must equal the full
    recompute, which is the algebraic property (commutative-monoid
    states) that makes the MV pattern sound at 100 TB."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        F.col("value"),
        (F.to_date("ts") < F.lit("2024-03-01").cast("date")).alias("is_base"),
    )

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.collect_set("user_id").alias("users"),
        )

    base = partial(ev.filter("is_base"))
    delta = partial(ev.filter(~F.col("is_base")))
    b, d = base.alias("b"), delta.alias("d")
    merged = b.join(d, F.col("b.event_type") == F.col("d.event_type"), "full_outer")
    return merged.select(
        F.coalesce("b.event_type", "d.event_type").alias("event_type"),
        (
            F.coalesce("b.n", F.lit(0)) + F.coalesce("d.n", F.lit(0))
        ).cast("long").alias("n"),
        (
            F.coalesce("b.cents", F.lit(0)) + F.coalesce("d.cents", F.lit(0))
        ).cast("long").alias("cents"),
        F.round(F.least(F.coalesce("b.min_v", "d.min_v"), F.coalesce("d.min_v", "b.min_v")), 2).alias("min_v"),
        F.round(F.greatest(F.coalesce("b.max_v", "d.max_v"), F.coalesce("d.max_v", "b.max_v")), 2).alias("max_v"),
        F.size(
            F.array_distinct(
                F.concat(
                    F.coalesce("b.users", F.array().cast("array<long>")),
                    F.coalesce("d.users", F.array().cast("array<long>")),
                )
            )
        ).cast("long").alias("n_users"),
    )


@register(
    "image_ahash_fingerprints",
    """
    WITH base AS (
      SELECT doc_id,
             CAST(4 + doc_id % 13 AS INT) AS w,
             CAST(3 + doc_id % 7 AS INT) AS h
      FROM documents WHERE doc_id % 6 != 3
    ),
    g AS (
      SELECT doc_id, w, h, w * h AS npx,
             list_transform(range(0, w * h),
               p -> (doc_id * 31 + 3 * p) % 256
                    + (doc_id * 31 + 3 * p + 1) % 256
                    + (doc_id * 31 + 3 * p + 2) % 256) AS gs
      FROM base
    ),
    t AS (SELECT doc_id, w, h, npx, gs, list_sum(gs) AS tot FROM g)
    SELECT doc_id, w AS width, h AS height,
           CAST(list_sum(list_transform(
                  range(1, CAST(least(npx, 63) AS INT) + 1),
                  i -> CASE WHEN npx * gs[i] >= tot
                            THEN CAST(1 AS BIGINT) << (i - 1)
                            ELSE 0 END)) AS BIGINT) AS ahash
    FROM t
    """,
)
def image_ahash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash fingerprints over REAL decoded rasters
    (llmops/multimodal.py::image_ahash) — the multimodal-dedup
    primitive: each doc's deterministic RGB raster is encoded through
    one of FIVE lossless codecs rotated by doc_id % 6 (BMP, PNG zlib,
    GIF LZW, TIFF LZW+predictor, PPM — the JPEG lane is excluded as
    lossy-format grayscale), decoded back by the pure-Python codecs,
    grayscaled by integer channel sum, and thresholded against the
    raster mean into a 63-bit BIGINT hash. The oracle computes the
    hash CLOSED-FORM from the pixel formula — so a green row proves
    five different decode paths all reproduced the exact raster, and
    that the hash pipeline is integer-exact end to end."""
    from dbt_lakehouse_aws_spark.llmops.jpeg import encode_jpeg  # noqa: F401
    from dbt_lakehouse_aws_spark.llmops.multimodal import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_ppm,
        image_ahash,
    )
    from dbt_lakehouse_aws_spark.llmops.tiff import encode_tiff
    from dbt_lakehouse_aws_spark.standard_queries import T

    def make_payloads(batches):
        import numpy as np
        import pandas as pd

        encoders = {0: encode_bmp, 1: encode_png, 2: encode_gif,
                    4: encode_tiff, 5: encode_ppm}
        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                codec = doc_id % 6
                if codec == 3:
                    continue
                w, h = 4 + doc_id % 13, 3 + doc_id % 7
                px = (
                    (doc_id * 31 + np.arange(w * h * 3, dtype=np.int64)) % 256
                ).astype(np.uint8).reshape(h, w, 3)
                ids.append(doc_id)
                payloads.append(encoders[codec](px))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    d = T(spark, sf_dir, "documents").select("doc_id")
    payloads = d.mapInPandas(make_payloads, "doc_id long, payload binary")
    return image_ahash(payloads)


@register(
    "table_diff_orders",
    """
    WITH b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 31 = 0
                  THEN CAST(round(o_totalprice * 100) AS BIGINT) + 100
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
      FROM orders WHERE o_orderkey % 97 != 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT)
      FROM orders WHERE o_orderkey % 53 = 0
    ),
    a AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    d AS (
      SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
             coalesce(a.o_orderstatus, b.o_orderstatus) AS status,
             CASE WHEN a.o_orderkey IS NULL THEN 'added'
                  WHEN b.o_orderkey IS NULL THEN 'removed'
                  WHEN a.cents = b.cents AND a.o_orderstatus = b.o_orderstatus
                       THEN 'unchanged'
                  ELSE 'changed' END AS diff_status
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT status AS o_orderstatus, diff_status,
           CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY 1, 2
    """,
)
def table_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation diff (operators/relational.py::table_diff) —
    the migration/backfill validator: the 'after' table is a
    deterministic mutation of orders (keys % 97 removed, % 31 price-
    bumped one dollar, % 53 cloned to a new key range) and the diff
    must classify every key added/removed/changed/unchanged from ONE
    full-outer hash join. Counts by (status, class); money compared
    in integer cents, NULL-safe."""
    from dbt_lakehouse_aws_spark.operators.relational import table_diff
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    a = o.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    b = (
        a.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 31 == 0, F.col("cents") + 100)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionByName(
            a.filter(F.col("o_orderkey") % 53 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                "o_orderstatus",
                "cents",
            )
        )
    )
    d = table_diff(a, b, keys=["o_orderkey"], compare_cols=["o_orderstatus", "cents"])
    status = F.coalesce("_a_o_orderstatus", "_b_o_orderstatus")
    return d.groupBy(
        status.alias("o_orderstatus"), "diff_status"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


@register(
    "rolling_28d_active_users",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    obs AS (SELECT DISTINCT day FROM du),
    contrib AS (
      SELECT DISTINCT o.day AS target_day, du.user_id
      FROM du JOIN obs o
        ON o.day >= du.day AND o.day <= du.day + INTERVAL 27 DAY
    )
    SELECT target_day AS day,
           CAST(count(*) AS BIGINT) AS active_users_28d
    FROM contrib GROUP BY 1
    """,
)
def rolling_28d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling 28-day distinct active users per day — the
    metric sliding windows can't pre-aggregate (distinct doesn't
    sum). The scalable shape: each (day, user) activity row EXPLODES
    into the ≤28 target days it contributes to (a sequence projection,
    work = 28·|day-user pairs|, linear), then one distinct + count
    per target day — never a per-day rescan of 28 days of raw events,
    never an all-days cross join. Sketch variants (hll_user_rollup)
    trade exactness for merge-at-serve; this is the exact batch twin."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    obs = du.select("day").distinct()
    targets = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 27))
        ).alias("target_day"),
        "user_id",
    )
    contrib = (
        targets.join(F.broadcast(obs), targets.target_day == obs.day)
        .select("target_day", "user_id")
        .distinct()
    )
    return contrib.groupBy(F.col("target_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("active_users_28d")
    )


@register(
    "proximity_pairs_customers",
    """
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 37) % 100000 AS x,
             (c_custkey * 91) % 100000 AS y
      FROM customer
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE abs(a.x - b.x) <= 250 AND abs(a.y - b.y) <= 250
    )
    SELECT id_a, id_b, CAST(d2 AS BIGINT) AS dist_sq
    FROM pairs WHERE d2 <= 250 * 250
    """,
)
def proximity_pairs_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity join (operators/spatial.py::
    grid_proximity_pairs): customers get deterministic integer
    coordinates on a 100km grid, and the operator finds every pair
    within 250 units through a 3×3 grid-cell equi-join — 9·|A|
    replicated rows, never the all-pairs cross the naive formulation
    plans as BroadcastNestedLoopJoin. Distances are squared INTEGERS,
    so the oracle (which at sf0.01 scale can afford the quadratic
    bounding-box formulation) matches bit-for-bit — two different
    algorithms, one exact pair set."""
    from dbt_lakehouse_aws_spark.operators.spatial import grid_proximity_pairs
    from dbt_lakehouse_aws_spark.standard_queries import T

    c = T(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 37) % 100000).alias("x"),
        ((F.col("c_custkey") * 91) % 100000).alias("y"),
    )
    return grid_proximity_pairs(
        pts, id_col="id", x_col="x", y_col="y", radius=250
    )


@register(
    "stream_interval_join_equivalence",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts > c.ts AND v.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_interval_join_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream/batch equivalence #4: the watermarked STREAM-STREAM
    interval join (streaming/ingest.py::stream_interval_join — state
    bounded by the watermark + range predicate, O(window) not
    O(stream)) over one availableNow pass must produce exactly the
    batch banded range_join's pairs (clicks → views within 1 hour per
    user). The oracle pins the pair count and that both exceptAll
    directions are empty."""
    import uuid

    from dbt_lakehouse_aws_spark.operators.temporal import range_join
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_interval_join

    # streaming sides
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(raw.dtypes)["ts"] == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    clicks_s = raw.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("click_ts"),
    )
    views_s = raw.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("view_ts"),
    )
    joined = stream_interval_join(
        clicks_s,
        views_s,
        on="u",
        left_ts="click_ts",
        right_ts="view_ts",
        upper="1 hour",
        watermark="1 hour",
    ).select("click_id", "view_id")
    sink = f"sij_eq_{uuid.uuid4().hex[:12]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    stream_out = spark.table(sink)

    ev = T(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("click_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("view_ts"),
    )
    batch_out = range_join(
        c, v, ["u"], left_ts="click_ts", right_ts="view_ts", upper="1 hours"
    ).select("click_id", "view_id")
    only_s = stream_out.exceptAll(batch_out).count()
    only_b = batch_out.exceptAll(stream_out).count()
    n_pairs = batch_out.count()
    return local_frame(
        spark,
        [(n_pairs, only_s, only_b)],
        "n_pairs long, n_only_stream long, n_only_batch long",
    )


@register(
    "moments_by_priority",
    """
    WITH s AS (
      SELECT o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n,
             sum(o_totalprice) AS s1,
             sum(o_totalprice * o_totalprice) AS s2,
             sum(o_totalprice * o_totalprice * o_totalprice) AS s3,
             sum(o_totalprice * o_totalprice * o_totalprice * o_totalprice) AS s4
      FROM orders GROUP BY 1
    ),
    m AS (
      SELECT priority, n, s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS var_pop,
             s1, s2, s3, s4
      FROM s
    )
    SELECT priority, n,
           round(mu, 4) AS mean,
           round(sqrt(var_pop), 4) AS stddev_pop,
           round((s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu)
                 / (var_pop * sqrt(var_pop)), 6) AS skewness,
           round((s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n)
                  - 3 * mu * mu * mu * mu)
                 / (var_pop * var_pop) - 3.0, 6) AS excess_kurtosis
    FROM m
    """,
)
def moments_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution profiling per group — mean, σ,
    skewness, excess kurtosis — computed from RAW POWER SUMS
    (Σx, Σx², Σx³, Σx⁴): one map-side-combinable aggregate, mergeable
    across partitions/batches by construction (the same
    sufficient-statistic discipline as the regression and PCA
    operators). Built-in skewness/kurtosis are NOT used on purpose:
    engines disagree on bias correction (sample vs population), while
    the power-sum formulas are arithmetic both engines replay
    identically to rounding."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    s = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    var_pop = F.col("s2") / F.col("n") - mu * mu
    skew = (
        F.col("s3") / F.col("n") - 3 * mu * (F.col("s2") / F.col("n"))
        + 2 * mu * mu * mu
    ) / (var_pop * F.sqrt(var_pop))
    kurt = (
        F.col("s4") / F.col("n")
        - 4 * mu * (F.col("s3") / F.col("n"))
        + 6 * mu * mu * (F.col("s2") / F.col("n"))
        - 3 * mu * mu * mu * mu
    ) / (var_pop * var_pop) - 3.0
    return s.select(
        "priority",
        "n",
        F.round(mu, 4).alias("mean"),
        F.round(F.sqrt(var_pop), 4).alias("stddev_pop"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@register(
    "survival_km_repurchase",
    """
    WITH purchases AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS k
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT a.user_id,
             CAST(date_diff('day', CAST(a.ts AS DATE), CAST(b.ts AS DATE))
                  AS BIGINT) AS gap_days
      FROM purchases a JOIN purchases b
        ON b.user_id = a.user_id AND b.k = a.k + 1
      WHERE a.k = 1
    ),
    risk AS (
      SELECT gap_days AS t, CAST(count(*) AS BIGINT) AS d FROM gaps GROUP BY 1
    ),
    km AS (
      SELECT r.t, r.d,
             (SELECT sum(r2.d) FROM risk r2 WHERE r2.t >= r.t) AS n_at_risk
      FROM risk r
    ),
    curve AS (
      SELECT k.t, k.d, k.n_at_risk,
             (SELECT sum(CASE WHEN k2.n_at_risk > k2.d
                              THEN ln(1.0 - CAST(k2.d AS DOUBLE) / k2.n_at_risk)
                              ELSE 0.0 END)
              FROM km k2 WHERE k2.t <= k.t) AS logsum,
             (SELECT max(CASE WHEN k2.n_at_risk = k2.d THEN 1 ELSE 0 END)
              FROM km k2 WHERE k2.t <= k.t) AS zero_seen
      FROM km k
    )
    SELECT t AS gap_days, d AS n_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CASE WHEN zero_seen = 1 THEN 0.0
                ELSE round(exp(logsum), 6) END AS survival
    FROM curve
    ORDER BY gap_days
    """,
)
def survival_km_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-repurchase — the
    churn/retention estimator: per user, the gap between first and
    second purchase is an event time; S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ)
    with nᵢ the at-risk count. The O(rows) work is two hash steps
    (per-user ranking, then the gap aggregate); the curve itself
    lives on the tiny distinct-gap frame (≤ calendar-days rows), so
    BOTH cumulative directions are computed with non-equi self-joins
    on that frame — no global ordered window, no single-partition
    exchange (the same device as the Heaps-law curve). S hits exactly
    0 once the last at-risk subject events (dᵢ = nᵢ); that term is
    handled by a zero-seen flag instead of ln(0), identically on both
    engines; all other factors go through exp(Σ ln(·)) in the same
    order, so 6-dp rounding is stable."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select("user_id", "ts", "event_id").withColumn(
        "k", F.row_number().over(w)
    )
    a = p.filter(F.col("k") == 1).select(
        "user_id", F.to_date("ts").alias("d1")
    )
    b = p.filter(F.col("k") == 2).select(
        "user_id", F.to_date("ts").alias("d2")
    )
    gaps = a.join(b, "user_id").select(
        F.datediff("d2", "d1").cast("long").alias("t")
    )
    risk = gaps.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("d"))
    r2 = risk.select(F.col("t").alias("t2"), F.col("d").alias("d2"))
    km = (
        risk.join(F.broadcast(r2), F.col("t2") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.sum("d2").alias("n_at_risk"))
    )
    k2 = km.select(
        F.col("t").alias("t2"),
        F.col("d").alias("d2"),
        F.col("n_at_risk").alias("n2"),
    )
    ln_term = F.when(
        F.col("n2") > F.col("d2"),
        F.log(1.0 - F.col("d2").cast("double") / F.col("n2")),
    ).otherwise(0.0)
    zero_flag = F.when(F.col("n2") == F.col("d2"), 1).otherwise(0)
    curve = (
        km.join(F.broadcast(k2), F.col("t2") <= F.col("t"))
        .groupBy("t", "d", "n_at_risk")
        .agg(
            F.sum(ln_term).alias("logsum"),
            F.max(zero_flag).alias("zero_seen"),
        )
    )
    surv = F.when(F.col("zero_seen") == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.col("logsum")), 6)
    )
    return curve.select(
        F.col("t").alias("gap_days"),
        F.col("d").alias("n_events"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        surv.alias("survival"),
    ).orderBy("gap_days")


@register(
    "session_paths_3step",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS k
      FROM events
    )
    SELECT a.event_type AS step1, b.event_type AS step2,
           c.event_type AS step3,
           CAST(count(*) AS BIGINT) AS n
    FROM seq a
    JOIN seq b ON b.user_id = a.user_id AND b.k = a.k + 1
    JOIN seq c ON c.user_id = a.user_id AND c.k = a.k + 2
    GROUP BY 1, 2, 3
    ORDER BY n DESC, step1, step2, step3
    LIMIT 25
    """,
)
def session_paths_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths — the path-analysis extension of
    the first-order transition matrix (event_transition_matrix):
    per-user ordered event sequences, trigram paths counted via two
    LEADs inside one user-partitioned window (no self-joins in the
    engine — the oracle uses the equivalent rank self-join, a
    different formulation of the same relation)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step3").isNotNull())
    return (
        seq.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(25)
    )



@register(
    "k_anonymity_orders",
    """
    WITH qi AS (
      SELECT o_orderpriority AS priority,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             -- round() yields DECIMAL in DuckDB and // on DECIMAL is
             -- true division; floor the DOUBLE quotient explicitly
             CAST(floor(CAST(round(o_totalprice) AS DOUBLE) / 50000)
                  AS BIGINT) AS price_band,
             o_custkey
      FROM orders
    ),
    groups AS (
      SELECT priority, yr, price_band,
             CAST(count(*) AS BIGINT) AS group_size,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS distinct_sensitive
      FROM qi GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN group_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k5,
           CAST(sum(CASE WHEN group_size < 5 THEN group_size ELSE 0 END)
                AS BIGINT) AS rows_at_risk,
           CAST(min(group_size) AS BIGINT) AS min_group_size,
           CAST(sum(CASE WHEN distinct_sensitive < 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS groups_below_l2
    FROM groups
    """,
)
def k_anonymity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit — the privacy gate a
    training-data release pipeline runs before shipping: group rows
    by their quasi-identifier tuple (priority, order year, coarse
    price band) and report how many equivalence classes fall below
    k=5 (re-identification risk), how many rows sit in them, and how
    many classes lack l=2 distinct sensitive values (attribute
    disclosure). One hash aggregate over the QI tuple + one tiny
    rollup — O(groups) after the first shuffle at any scale."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    qi = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("long").alias("yr"),
        (F.round(F.col("o_totalprice")) / 50000).cast("long").alias("price_band"),
        "o_custkey",
    )
    groups = qi.groupBy("priority", "yr", "price_band").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct("o_custkey").cast("long").alias("distinct_sensitive"),
    )
    below_k = F.when(F.col("group_size") < 5, 1).otherwise(0)
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(below_k).cast("long").alias("groups_below_k5"),
        F.sum(
            F.when(F.col("group_size") < 5, F.col("group_size")).otherwise(0)
        ).cast("long").alias("rows_at_risk"),
        F.min("group_size").cast("long").alias("min_group_size"),
        F.sum(
            F.when(F.col("distinct_sensitive") < 2, 1).otherwise(0)
        ).cast("long").alias("groups_below_l2"),
    )


@register(
    "ks_drift_order_values",
    """
    WITH tagged AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1997-01-01' THEN 1 ELSE 0 END
               AS is_a
      FROM orders
    ),
    cells AS (
      SELECT v, CAST(sum(is_a) AS BIGINT) AS na,
             CAST(sum(1 - is_a) AS BIGINT) AS nb
      FROM tagged GROUP BY v
    ),
    tot AS (
      SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb
      FROM cells
    ),
    cum AS (
      SELECT v, sum(na) OVER (ORDER BY v) AS ca,
             sum(nb) OVER (ORDER BY v) AS cb
      FROM cells
    )
    SELECT tot.ta AS n_before, tot.tb AS n_after,
           round(max(abs(CAST(cum.ca AS DOUBLE) / tot.ta
                         - CAST(cum.cb AS DOUBLE) / tot.tb)), 6) AS ks_stat
    FROM cum CROSS JOIN tot
    GROUP BY tot.ta, tot.tb
    """,
)
def ks_drift_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov drift statistic between
    pre-1997 and later order values — the nonparametric companion to
    the binned PSI row: D = max over observed values of
    |F̂_before − F̂_after|, from per-distinct-value counts + the
    SCALABLE prefix sum (operators/windows.py::prefix_sum — the same
    primitive under AUC/Gini; the oracle uses a plain windowed
    cumulative, a different plan computing the same exact rationals).
    Values are integer cents; each ECDF step is an exact integer
    ratio, so the max is order-independent."""
    from dbt_lakehouse_aws_spark.operators.windows import prefix_sum
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    tagged = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(
            F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"),
            1,
        ).otherwise(0).alias("is_a"),
    )
    cells = tagged.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("na"),
        F.sum(1 - F.col("is_a")).cast("long").alias("nb"),
    )
    tot = cells.agg(
        F.sum("na").cast("long").alias("ta"), F.sum("nb").cast("long").alias("tb")
    )
    cum = prefix_sum(cells, [F.asc("v")], "na", name="ca")
    cum = prefix_sum(cum, [F.asc("v")], "nb", name="cb")
    d = F.abs(
        F.col("ca").cast("double") / F.col("ta")
        - F.col("cb").cast("double") / F.col("tb")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.first("ta").alias("n_before"),
            F.first("tb").alias("n_after"),
            F.round(F.max(d), 6).alias("ks_stat"),
        )
    )


@register(
    "stream_append_exactly_once",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_after_replay,
           CAST(0 AS BIGINT) AS replay_added
    FROM events
    """,
)
def stream_append_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming APPEND under the driver gate: the
    events file streams into an ACID table through
    streaming/ingest.py::stream_append_into_acid (one atomic commit
    carrying BOTH the rows and the (app, batch) txn marker), then a
    crash-replay appends batch 0 again through the table itself —
    its txn watermark (sources/acid.py::last_txn_batch) must skip
    it. The oracle pins:
    table row count == source count after the first pass, unchanged
    after the replay, 0 rows added. Merge idempotency cannot give
    this for appends; the txn protocol is what makes the sink
    exactly-once."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.streaming.ingest import stream_append_into_acid

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    root = tempfile.mkdtemp(prefix=f"eo_{uuid.uuid4().hex[:8]}_")
    table_path = f"{root}/tbl"
    ckpt = f"{root}/ckpt"
    q = stream_append_into_acid(
        stream.select("event_id", "user_id", "event_type"),
        table_path=table_path,
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(600)
    t = AcidTable(spark, table_path)
    n1 = t.read().count()

    # crash-replay: same app id (derived from the checkpoint), batch 0
    replay = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    t.write(replay, mode="append", txn=(f"stream_append:{ckpt}", 0))
    n2 = t.read().count()
    return local_frame(
        spark,
        [(n1, n2, n2 - n1)],
        "n_rows long, n_after_replay long, replay_added long",
    )


def _ppr_oracle_sql(iters: int = 8, damping: float = 0.85) -> str:
    """Unrolled personalized-PageRank oracle — the pagerank fixpoint
    device with the teleport term concentrated on the seed set
    (users with ≥1 purchase): p(v) = 1/|seeds| on seeds, else 0;
    update = (1-d)·p(v) + d·Σ in-contributions. Same bipartite
    user↔event-type graph as pagerank_event_graph."""
    steps = []
    prev = "r0"
    for i in range(1, iters + 1):
        steps.append(
            f"""r{i} AS (
      SELECT n.node,
             (1 - {damping}) * n.p + {damping} * coalesce(s._s, 0) AS rank
      FROM pnodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank / d.deg) AS _s
        FROM edges e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.node
        GROUP BY e.dst
      ) s ON n.node = s.node)"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH fwd AS (
      SELECT DISTINCT concat('u:', user_id) AS src,
             concat('t:', event_type) AS dst
      FROM events
    ),
    edges AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
    seeds AS (
      SELECT DISTINCT concat('u:', user_id) AS node
      FROM events WHERE event_type = 'purchase'
    ),
    pnodes AS (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL
                  THEN 1.0 / (SELECT count(*) FROM seeds)
                  ELSE 0.0 END AS p
      FROM nodes n LEFT JOIN seeds s ON s.node = n.node
    ),
    r0 AS (SELECT node, p AS rank FROM pnodes),
    {chain}
    SELECT node, round(rank, 6) AS rank FROM {prev}
    """


@register("personalized_pagerank_buyers", _ppr_oracle_sql())
def personalized_pagerank_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded on purchasing users
    (operators/graph.py::personalized_pagerank) — random walk with
    restart over the bipartite user↔event-type graph, the
    "related to these entities" recommender scorer. Fixed 8
    iterations unroll into the chained-CTE oracle exactly like
    pagerank_event_graph; the teleport vector rides a broadcast join,
    adding no per-iteration shuffle."""
    from dbt_lakehouse_aws_spark.operators.graph import personalized_pagerank
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    fwd = ev.select(
        F.concat(F.lit("u:"), F.col("user_id")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.concat(F.lit("u:"), F.col("user_id")).alias("node"))
        .distinct()
    )
    return personalized_pagerank(edges, seeds, iters=8).select(
        "node", F.round("rank", 6).alias("rank")
    )


@register(
    "training_matrix_pit",
    """
    WITH seq AS (
      SELECT event_id, user_id, ts, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             count(*) OVER w AS n_prior_events,
             coalesce(sum(CAST(round(value * 100) AS BIGINT)) OVER w, 0)
               AS prior_value_cents,
             min(ts) OVER w AS first_prior_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           CAST(n_prior_events AS BIGINT) AS n_prior_events,
           CAST(prior_value_cents AS BIGINT) AS prior_value_cents,
           CAST(date_diff('day', CAST(first_prior_ts AS DATE), CAST(ts AS DATE))
                AS BIGINT) AS days_active,
           cents AS label_cents
    FROM seq WHERE event_type = 'purchase'
    """,
)
def training_matrix_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free training-matrix assembly — the capstone a feature
    store exists for: one row per label event (purchases) carrying
    ONLY strictly-prior features (event count, spend, tenure), built
    with per-user windows whose frame ends at ``1 PRECEDING`` — the
    same-instant and future rows that cause target leakage are
    excluded by the frame itself, not by a fragile filter. All
    windows partition by user (bounded by events-per-user, no
    funnel); features are exact integers. The purged temporal split
    (temporal_split_purged_events) and group split (group_split_docs)
    are the companions downstream."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    seq = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        cents.alias("cents"),
        F.count(F.lit(1)).over(w).alias("n_prior_events"),
        F.coalesce(F.sum(cents).over(w), F.lit(0)).alias("prior_value_cents"),
        F.min("ts").over(w).alias("first_prior_ts"),
    )
    return seq.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("n_prior_events").cast("long").alias("n_prior_events"),
        F.col("prior_value_cents").cast("long").alias("prior_value_cents"),
        F.datediff(F.to_date("ts"), F.to_date("first_prior_ts"))
        .cast("long")
        .alias("days_active"),
        F.col("cents").alias("label_cents"),
    )


@register(
    "acid_asof_timestamp_events",
    """
    WITH a AS (
      SELECT count(*) AS n FROM events WHERE event_type != 'error'
    ),
    b AS (SELECT count(*) AS n FROM events)
    SELECT CAST(a.n AS BIGINT) AS n_at_t1,
           CAST(b.n AS BIGINT) AS n_at_t2,
           CAST(b.n - a.n AS BIGINT) AS n_appended
    FROM a CROSS JOIN b
    """,
)
def acid_asof_timestamp_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF-timestamp time travel under the driver gate
    (sources/acid.py::version_at/read(as_of=…)): commit the non-error
    events, capture a wall-clock instant, append the error events,
    then read the table AS OF that instant — it must see exactly the
    first commit's rows while the current read sees both. The commit
    timestamps live in the manifest log, so resolution is
    metadata-only; the oracle pins both counts and the delta."""
    import tempfile
    import time as _time
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events").select("event_id", "event_type")
    t = AcidTable(
        spark, tempfile.mkdtemp(prefix=f"asof_{uuid.uuid4().hex[:8]}_") + "/t"
    )
    t.write(ev.filter(F.col("event_type") != "error"))
    t1 = _time.time()
    _time.sleep(0.05)  # commit timestamps have wall-clock resolution
    t.write(ev.filter(F.col("event_type") == "error"), mode="append")

    n1 = t.read(as_of=t1).count()
    n2 = t.read().count()
    return local_frame(
        spark, [(n1, n2, n2 - n1)], "n_at_t1 long, n_at_t2 long, n_appended long"
    )


@register(
    "csv_quoted_roundtrip_parts",
    """
    WITH hostile AS (
      SELECT p_partkey,
             concat(p_name,
                    CASE p_partkey % 4
                      WHEN 0 THEN ', Inc.'
                      WHEN 1 THEN ' "quoted"'
                      WHEN 2 THEN concat(' multi', chr(10), 'line')
                      ELSE '' END) AS hostile_name,
             p_brand
      FROM part
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(length(hostile_name)) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN contains(hostile_name, chr(10))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_multiline
    FROM hostile
    GROUP BY p_brand
    """,
)
def csv_quoted_roundtrip_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV roundtrip under HOSTILE field content — the quoting edge
    cases that corrupt naive ingest: embedded delimiters, embedded
    double quotes (RFC 4180 doubling), and embedded NEWLINES
    (requires multiLine parsing on the read side). A deterministic
    mutation plants each hazard by key; the table is written with
    Spark's distributed CSV writer and read back with
    ``multiLine=true`` + explicit schema, and the aggregate over the
    read-back copy must match the oracle computed over the mutated
    SOURCE — any quoting loss shifts lengths/counts. Completes the
    ingest-roundtrip family (ORC, bz2 JSONL, fixed-width, Avro)."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part")
    hostile = p.select(
        "p_partkey",
        F.concat(
            F.col("p_name"),
            F.when(F.col("p_partkey") % 4 == 0, F.lit(", Inc."))
            .when(F.col("p_partkey") % 4 == 1, F.lit(' "quoted"'))
            .when(
                F.col("p_partkey") % 4 == 2,
                F.concat(F.lit(" multi"), F.lit("\n"), F.lit("line")),
            )
            .otherwise(F.lit("")),
        ).alias("hostile_name"),
        "p_brand",
    )
    root = tempfile.mkdtemp(prefix=f"csvq_{uuid.uuid4().hex[:8]}_") + "/parts"
    hostile.write.mode("overwrite").option("header", "true").csv(root)
    back = (
        spark.read.schema("p_partkey long, hostile_name string, p_brand string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(root)
    )
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("hostile_name")).cast("long").alias("total_chars"),
        F.sum(
            F.when(F.col("hostile_name").contains("\n"), 1).otherwise(0)
        ).cast("long").alias("n_multiline"),
    )


@register(
    "contamination_check_docs",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, doc_id % 17 = 0 AS bench,
             unnest(list_transform(range(1, len(ts) - 3),
                                   i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS g
      FROM toks WHERE len(ts) >= 5
    ), bg AS (
      SELECT DISTINCT g FROM sh WHERE bench
    ), tr AS (
      SELECT doc_id, g FROM sh WHERE NOT bench
    ), sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS total_grams
      FROM tr GROUP BY 1
    ), hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS hit_grams
      FROM tr JOIN bg USING (g) GROUP BY 1
    )
    SELECT h.doc_id, hit_grams, total_grams,
           round(CAST(hit_grams AS DOUBLE) / total_grams, 6) AS contamination
    FROM hits h JOIN sizes s USING (doc_id)
    """,
)
def contamination_check_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (llmops/corpus.py::
    contamination_check): docs with ``doc_id % 17 == 0`` stand in for
    the benchmark suite; 5-word grams are the overlap unit (the
    short-doc analogue of GPT-3's 13-gram rule). The benchmark gram
    set is broadcast — the corpus side never shuffles on gram."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.llmops.corpus import contamination_check

    d = T(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    train = d.filter(F.col("doc_id") % 17 != 0)
    return contamination_check(train, bench, n=5)


@register(
    "holt_forecast_daily_events",
    """
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
    rec(key, i, l, b) AS (
      SELECT key, i, x, CAST(0.0 AS DOUBLE) FROM seq WHERE i = 1
      UNION ALL
      SELECT r.key, r.i + 1,
             0.5 * q.x + 0.5 * (r.l + r.b),
             0.3 * ((0.5 * q.x + 0.5 * (r.l + r.b)) - r.l) + 0.7 * r.b
      FROM rec r JOIN seq q ON q.key = r.key AND q.i = r.i + 1
    )
    SELECT q.key AS event_type, q.day, q.n,
           floor(r.l * 1e6 + 0.5) / 1e6 AS level,
           floor(r.b * 1e6 + 0.5) / 1e6 AS trend,
           floor((r.l + r.b) * 1e6 + 0.5) / 1e6 AS forecast
    FROM rec r JOIN seq q ON q.key = r.key AND q.i = r.i
    """,
)
def holt_forecast_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential level+trend smoothing over per-type
    daily counts (operators/temporal.py::holt_linear_smooth) — the
    coupled two-state recursion no window function expresses; engine
    folds it per key in Arrow applyInPandas over the pre-aggregated
    daily series, oracle replays the identical op order as a
    recursive CTE (literal smoothing constants on both sides —
    1.0−0.3 == 0.7 bitwise, asserted in the operator's test)."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.operators.temporal import holt_linear_smooth

    ev = T(spark, sf_dir, "events")
    out = holt_linear_smooth(ev, key_col="event_type", ts_col="ts")

    # floor-based half-up rounding: floor/×/+ are all exact-or-IEEE
    # identical in Spark and DuckDB, unlike round(double, d), whose
    # decimal-vs-binary tie handling differs at half-way points
    # (66.1600125 rounded 13 vs 12 at sf0.01 — the motivating case).
    def r6(c: str):
        return (F.floor(F.col(c) * 1e6 + F.lit(0.5)) / 1e6).alias(c)

    return out.select(
        F.col("key").alias("event_type"),
        "day",
        "n",
        r6("level"),
        r6("trend"),
        r6("forecast"),
    )


@register(
    "acf_daily_events",
    """
    WITH daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day, count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.key, l.lag, a.x, b.x AS y
      FROM daily a
      CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
      JOIN daily b ON b.key = a.key AND b.day = a.day - CAST(l.lag AS INTEGER)
    ),
    stats AS (
      SELECT key, CAST(lag AS BIGINT) AS lag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM pairs GROUP BY 1, 2
    )
    SELECT key AS event_type, lag, CAST(n AS BIGINT) AS n_pairs,
           (n * sxy - sx * sy)
             / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0)
             AS acf
    FROM stats
    """,
)
def acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-lag autocorrelation (lags 1..7) of per-type daily
    event counts (operators/temporal.py::acf_daily). Pearson r from
    exact integer sufficient stats — bit-deterministic across
    engines and partitionings, so the double result needs no
    rounding at all."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.operators.temporal import acf_daily

    ev = T(spark, sf_dir, "events")
    out = acf_daily(ev, key_col="event_type", ts_col="ts", max_lag=7)
    return out.select(F.col("key").alias("event_type"), "lag", "n_pairs", "acf")


@register(
    "log_odds_terms_en",
    """
    WITH toks AS (
      SELECT lang = 'en' AS a, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    counts AS (
      SELECT term,
             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS yb
      FROM toks GROUP BY 1
    ),
    totals AS (
      SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb
      FROM toks
    ),
    scored AS (
      SELECT term, ya, yb,
             (ln((CAST(ya AS DOUBLE) + 50.0 * ((CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))
                 / (CAST(na AS DOUBLE) + 50.0 - CAST(ya AS DOUBLE) - 50.0 * ((CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))))
              - ln((CAST(yb AS DOUBLE) + 50.0 * ((CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))
                 / (CAST(nb AS DOUBLE) + 50.0 - CAST(yb AS DOUBLE) - 50.0 * ((CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))))
             / sqrt(1.0 / (CAST(ya AS DOUBLE) + 50.0 * ((CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))))
                  + 1.0 / (CAST(yb AS DOUBLE) + 50.0 * ((CAST(ya AS DOUBLE) + CAST(yb AS DOUBLE)) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))))
             AS z_score
      FROM counts CROSS JOIN totals
      WHERE ya + yb >= 5
    )
    SELECT term, ya AS count_a, yb AS count_b, z_score
    FROM scored
    ORDER BY z_score DESC, term ASC
    LIMIT 20
    """,
)
def log_odds_terms_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe-et-al Dirichlet-prior log-odds: terms most associated
    with English docs vs the rest (llmops/text.py::
    dirichlet_log_odds). Integer counts -> fixed-order double
    arithmetic: bit-reproducible, stable top-20 cut."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.llmops.text import dirichlet_log_odds

    d = T(spark, sf_dir, "documents")
    return dirichlet_log_odds(d, F.col("lang") == "en", min_count=5, alpha0=50.0, k=20)


@register(
    "calibration_brier_orders",
    """
    WITH scored AS (
      SELECT CASE WHEN o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'
                  THEN 1 ELSE 0 END AS y,
             0.5 * (((o_totalprice - 250000.0) / 100000.0)
                    / (1.0 + abs((o_totalprice - 250000.0) / 100000.0)))
               + 0.5 AS p
      FROM orders
    ),
    q AS (
      SELECT CAST(least(floor(p * 10), 9) AS BIGINT) AS bin,
             CAST(floor(p * 1000 + 0.5) AS BIGINT) AS pm,
             CAST(y AS BIGINT) AS y
      FROM scored
    ),
    per_bin AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pm) AS BIGINT) AS spm,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum((pm - y * 1000) * (pm - y * 1000)) AS BIGINT) AS ssq
      FROM q GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(ssq) AS BIGINT) AS tsq
      FROM per_bin
    )
    SELECT bin, n,
           CAST(spm AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0) AS avg_pred,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos,
           CAST(tsq AS DOUBLE) / (CAST(tn AS DOUBLE) * 1000000.0) AS brier
    FROM per_bin CROSS JOIN tot
    ORDER BY bin
    """,
)
def calibration_brier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier score (llmops/evalmetrics.py::
    calibration_bins) for a frozen softsign-link scorer of order
    priority from order value. The link is ALGEBRAIC (+,*,/,abs
    only) — a logistic exp() would be libm-dependent and could flip
    the milli-quantization at the last ulp between engines."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.llmops.evalmetrics import calibration_bins

    o = T(spark, sf_dir, "orders")
    z = (F.col("o_totalprice") - 250000.0) / 100000.0
    scored = o.select(
        (
            F.when(
                F.col("o_orderpriority").like("1-%")
                | F.col("o_orderpriority").like("2-%"),
                1,
            ).otherwise(0)
        ).alias("y"),
        (0.5 * (z / (1.0 + F.abs(z))) + 0.5).alias("p"),
    )
    return calibration_bins(scored, p_col="p", label_col="y", n_bins=10)


@register(
    "dbscan_customer_blobs",
    """
    WITH RECURSIVE pts AS (
      SELECT id, h1, (h1 * 48271) % 2147483647 AS h2
      FROM (
        SELECT c_custkey AS id,
               ((c_custkey % 2147483647) * 506952114) % 2147483647 AS h1
        FROM customer WHERE c_custkey % 3 = 0
      )
    ),
    xy AS (
      SELECT id,
        CASE WHEN id % 31 = 0 THEN h1 % 100000
             ELSE (id % 5) * 10000 + h1 % 800 END AS x,
        CASE WHEN id % 31 = 0 THEN h2 % 100000
             ELSE (id % 5) * 10000 + h2 % 800 END AS y
      FROM pts
    ),
    pairs AS (
      SELECT a.id AS ia, b.id AS ib
      FROM xy a JOIN xy b ON a.id < b.id
      WHERE abs(a.x - b.x) <= 250 AND abs(a.y - b.y) <= 250
        AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 62500
    ),
    sym AS (
      SELECT ia AS id, ib AS nbr FROM pairs
      UNION ALL
      SELECT ib AS id, ia AS nbr FROM pairs
    ),
    core AS (
      SELECT id FROM (SELECT id, count(*) AS c FROM sym GROUP BY 1)
      WHERE c + 1 >= 3
    ),
    ce AS (
      SELECT s.id, s.nbr FROM sym s
      JOIN core a ON a.id = s.id JOIN core b ON b.id = s.nbr
    ),
    reach(node, lbl) AS (
      SELECT id, id FROM core
      UNION
      SELECT e.id, r.lbl FROM ce e JOIN reach r ON r.node = e.nbr
    ),
    clusters AS (
      SELECT node AS id, CAST(min(lbl) AS BIGINT) AS cluster
      FROM reach GROUP BY 1
    ),
    adopt AS (
      SELECT s.id, CAST(min(c.cluster) AS BIGINT) AS adopted
      FROM sym s JOIN clusters c ON c.id = s.nbr GROUP BY s.id
    )
    SELECT p.id,
           CASE WHEN c.cluster IS NOT NULL THEN 'core'
                WHEN a.adopted IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(c.cluster, a.adopted) AS cluster
    FROM xy p
    LEFT JOIN clusters c ON c.id = p.id
    LEFT JOIN adopt a ON a.id = p.id
    """,
)
def dbscan_customer_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (operators/spatial.py::dbscan_labels) over planted
    customer blobs (every 3rd customer): 5 hash-jittered 800-unit
    blobs 10k apart plus 1-in-31 far-scattered noise; eps=250,
    minPts=3 — tuned so blob graphs stay ~4 hops in diameter (the
    min-label round count) at bench scale. Engine clusters
    via grid pairs + min-label components; the oracle replays the
    SAME min-reachable-core-id labels through a recursive-CTE
    transitive closure — two algorithms, one exact labeling
    (the part_hierarchy_rollup / dedup_keep_best playbook)."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.llmops.corpus import portable_hash
    from dbt_lakehouse_aws_spark.operators.spatial import dbscan_labels

    M = 2_147_483_647
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    h1 = portable_hash(F.col("c_custkey"))
    h2 = (h1 * 48271) % M
    scattered = F.col("c_custkey") % 31 == 0
    xy = c.select(
        F.col("c_custkey").alias("id"),
        F.when(scattered, h1 % 100000)
        .otherwise((F.col("c_custkey") % 5) * 10000 + h1 % 800)
        .alias("x"),
        F.when(scattered, h2 % 100000)
        .otherwise((F.col("c_custkey") % 5) * 10000 + h2 % 800)
        .alias("y"),
    )
    return dbscan_labels(
        xy, id_col="id", x_col="x", y_col="y", eps=250, min_pts=3
    )


@register(
    "theil_sen_trend_events",
    """
    WITH daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day, count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.key,
             CAST(b.x - a.x AS DOUBLE)
               / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS s
      FROM daily a JOIN daily b ON a.key = b.key AND b.day > a.day
    ),
    nd AS (
      SELECT key, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
    )
    SELECT s.key AS event_type, nd.n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(quantile_cont(s.s, 0.5) AS DOUBLE) AS slope_per_day
    FROM slopes s JOIN nd ON nd.key = s.key
    GROUP BY s.key, nd.n_days
    """,
)
def theil_sen_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily trend per event type
    (operators/temporal.py::theil_sen_daily_trend): median of
    pairwise slopes over the tiny aggregated series; exact
    interpolated median on both sides, no rounding needed."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.operators.temporal import theil_sen_daily_trend

    ev = T(spark, sf_dir, "events")
    out = theil_sen_daily_trend(ev, key_col="event_type", ts_col="ts")
    return out.select(
        F.col("key").alias("event_type"), "n_days", "n_pairs", "slope_per_day"
    )


@register(
    "cube_events_type_weekday",
    """
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CAST(isodow(CAST(ts AS DATE)) AS BIGINT), -1) AS weekday,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST(grouping(event_type) * 2 + grouping(isodow(CAST(ts AS DATE)))
                AS BIGINT) AS gid
    FROM events
    GROUP BY CUBE (event_type, isodow(CAST(ts AS DATE)))
    """,
)
def cube_events_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, ISO weekday): all four grouping
    sets in ONE pass — Spark expands the cube map-side and
    aggregates each set partially before the single shuffle (vs four
    separate scans of the fact table). grouping_id() disambiguates
    coalesced NULLs from real values, mirrored to DuckDB's
    grouping() bits. Completes the multidimensional-aggregate family
    next to a12's ROLLUP."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    wd = F.dayofweek(F.to_date("ts"))  # Sun=1..Sat=7
    iso = F.when(wd == 1, 7).otherwise(wd - 1).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(F.col("event_type"), iso.alias("_wd"), cents.alias("_c"))
        .cube("event_type", "_wd")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_c").cast("long").alias("cents"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("_wd"), F.lit(-1)).cast("long").alias("weekday"),
            "n",
            "cents",
            "gid",
        )
    )


@register(
    "ohlc_daily_events",
    """
    WITH v AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(value * 100) AS BIGINT) AS cents,
             ts, event_id
      FROM events
    ),
    ranked AS (
      SELECT event_type, day, cents,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts ASC, event_id ASC) AS rn_a,
             row_number() OVER (PARTITION BY event_type, day
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM v
    )
    SELECT event_type, day,
           CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS volume
    FROM ranked
    GROUP BY event_type, day
    """,
)
def ohlc_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candlesticks per event type — the time-series
    rollup every market/metrics store ships. ONE shuffle on
    (type, day): both row_number windows share the partitioning with
    the final aggregate, so open/close (first/last by (ts, event_id)
    — a total order, deterministic under duplicate timestamps),
    high/low, and volume come out of a single exchange. Integer
    cents throughout."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "ts",
        "event_id",
    )
    wa = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = v.select(
        "event_type",
        "day",
        "cents",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return ranked.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias("close_cents"),
        F.count(F.lit(1)).cast("long").alias("volume"),
    )


@register(
    "twap_user_values",
    """
    WITH seg AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(date_diff('second', ts,
                  lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id)) AS BIGINT) AS dur_s
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(dur_s) AS BIGINT) AS held_seconds,
           CAST(sum(cents * dur_s) AS DOUBLE)
             / CAST(sum(dur_s) AS DOUBLE) / 100.0 AS twap
    FROM seg WHERE dur_s IS NOT NULL
    GROUP BY user_id
    ORDER BY twap DESC, user_id ASC
    LIMIT 50
    """,
)
def twap_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's
    value is "held" until the user's next event; the average weights
    by holding duration, not by tick count — the financial-data
    staple a plain avg() silently gets wrong on irregular series.
    One window shuffle on user_id (lead over (ts, event_id) — a
    total order); products are BIGINT cents × BIGINT seconds, so the
    sums are exact and the final division is one fixed-order double
    op per user."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seg = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (
            F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
        ).cast("long").alias("dur_s"),
    ).filter(F.col("dur_s").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("dur_s").cast("long").alias("held_seconds"),
            (
                F.sum(F.col("cents") * F.col("dur_s")).cast("double")
                / F.sum("dur_s").cast("double")
                / 100.0
            ).alias("twap"),
        )
        .orderBy(F.desc("twap"), F.asc("user_id"))
        .limit(50)
    )


@register(
    "js_divergence_sources",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    src_counts AS (
      SELECT source, term, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    gl AS (
      SELECT term, CAST(sum(c) AS BIGINT) AS g FROM src_counts GROUP BY 1
    ),
    ns AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM src_counts GROUP BY 1
    ),
    ng AS (SELECT CAST(sum(g) AS BIGINT) AS ng FROM gl),
    shared AS (
      SELECT s.source,
             CAST(sum(CAST(floor(
               (0.5 * (CAST(s.c AS DOUBLE) / ns.n)
                     * ln((CAST(s.c AS DOUBLE) / ns.n)
                          / (0.5 * ((CAST(s.c AS DOUBLE) / ns.n)
                                    + (CAST(g.g AS DOUBLE) / ng.ng))))
              + 0.5 * (CAST(g.g AS DOUBLE) / ng.ng)
                     * ln((CAST(g.g AS DOUBLE) / ng.ng)
                          / (0.5 * ((CAST(s.c AS DOUBLE) / ns.n)
                                    + (CAST(g.g AS DOUBLE) / ng.ng))))) * 1e12
               + 0.5) AS BIGINT)) AS BIGINT) AS pico
      FROM src_counts s
      JOIN ns ON ns.source = s.source
      JOIN gl g ON g.term = s.term
      CROSS JOIN ng
      GROUP BY s.source
    ),
    qonly AS (
      SELECT ns.source,
             CAST(sum(CASE WHEN s.c IS NULL THEN
               CAST(floor(0.5 * (CAST(g.g AS DOUBLE) / ng.ng)
                          * ln((CAST(g.g AS DOUBLE) / ng.ng)
                               / (0.5 * (CAST(g.g AS DOUBLE) / ng.ng))) * 1e12
                          + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS pico
      FROM gl g
      CROSS JOIN ng
      CROSS JOIN ns
      LEFT JOIN src_counts s ON s.term = g.term AND s.source = ns.source
      GROUP BY ns.source
    )
    SELECT s.source,
           CAST(s.pico + coalesce(o.pico, 0) AS DOUBLE) / 1e12 AS js_divergence
    FROM shared s LEFT JOIN qonly o ON o.source = s.source
    ORDER BY s.source
    """,
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    from the corpus-wide distribution — the bounded, symmetric drift
    score for corpus-mixing dashboards (KL is infinite on unseen
    terms; JS never is). P-support terms contribute both KL halves in
    one pass over the per-(source, term) counts; terms a source has
    NEVER seen (p=0) still owe the Q half ``0.5·q·ln 2`` —
    accumulated from the source×vocab grid minus observed cells
    (vocab is the small side, broadcast). Each term's contribution is
    a fixed-order double expression QUANTIZED to integer picounits
    before the sum, so the aggregate is an exact BIGINT and immune to
    summation-order drift in either engine."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.llmops.text import tokens_col

    d = T(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens_col("text")).alias("term"))
    src_counts = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    gl = src_counts.groupBy("term").agg(F.sum("c").alias("g"))
    ns = src_counts.groupBy("source").agg(F.sum("c").alias("n"))
    ng = gl.agg(F.sum("g").alias("ng"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("g").cast("double") / F.col("ng")
    contrib = 0.5 * p * F.log(p / (0.5 * (p + q))) + 0.5 * q * F.log(
        q / (0.5 * (p + q))
    )
    shared = (
        src_counts.join(ns, "source")
        .join(gl, "term")
        .crossJoin(F.broadcast(ng))
        .groupBy("source")
        .agg(
            F.sum(F.floor(contrib * 1e12 + F.lit(0.5)).cast("long")).alias(
                "pico"
            )
        )
    )
    q_extra = F.floor(
        0.5 * q * F.log(q / (0.5 * q)) * 1e12 + F.lit(0.5)
    ).cast("long")
    qonly = (
        ns.crossJoin(F.broadcast(gl))
        .crossJoin(F.broadcast(ng))
        .join(src_counts, ["source", "term"], "left")
        .filter(F.col("c").isNull())
        .groupBy("source")
        .agg(F.sum(q_extra).alias("pico"))
    )
    return (
        shared.alias("s")
        .join(qonly.alias("o"), "source", "left")
        .select(
            "source",
            (
                (
                    F.col("s.pico")
                    + F.coalesce(F.col("o.pico"), F.lit(0))
                ).cast("double")
                / 1e12
            ).alias("js_divergence"),
        )
        .orderBy("source")
    )


@register(
    "hits_part_authorities",
    """
    WITH e AS (
      SELECT DISTINCT o_custkey AS h, l_partkey AS a
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    a1 AS (SELECT a, CAST(count(*) AS BIGINT) AS s FROM e GROUP BY 1),
    h1 AS (
      SELECT e.h, CAST(sum(a1.s) AS BIGINT) AS s
      FROM e JOIN a1 ON a1.a = e.a GROUP BY 1
    ),
    a2 AS (
      SELECT e.a, CAST(sum(h1.s) AS BIGINT) AS s
      FROM e JOIN h1 ON h1.h = e.h GROUP BY 1
    )
    SELECT a AS part, s AS score FROM a2
    ORDER BY score DESC, part ASC LIMIT 20
    """,
)
def hits_part_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authorities on the bipartite customer→part purchase
    graph (operators/graph.py::hits_path_counts): two unnormalized
    double-steps in exact BIGINT path counts — ranking-identical to
    normalized HITS at the same depth, immune to double-summation
    order, and the oracle unrolls the same two steps as plain SQL
    aggregates. Top-20 parts by depth-2 authority."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.operators.graph import hits_path_counts

    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    e = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("hub"), F.col("l_partkey").alias("auth"))
        .distinct()
    )
    return (
        hits_path_counts(e, hub="hub", auth="auth", steps=2)
        .select(F.col("a").alias("part"), "score")
        .orderBy(F.desc("score"), F.asc("part"))
        .limit(20)
    )


@register(
    "join_skew_advisor_events",
    """
    WITH kc AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           CAST(min(CASE WHEN c = mx THEN user_id END) AS BIGINT) AS hottest_key,
           CAST(sum(c) AS DOUBLE) / count(*) AS avg_key_rows,
           CAST(quantile_cont(c, 0.99) AS DOUBLE) AS p99_key_rows,
           CAST(ceil(CAST(max(c) AS DOUBLE)
                     / (CAST(sum(c) AS DOUBLE) / 200.0)) AS BIGINT)
             AS salt_factor
    FROM (SELECT *, max(c) OVER (PARTITION BY event_type) AS mx FROM kc)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def join_skew_advisor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew advisor: per join key-space (event_type), the
    key-frequency profile a planner needs BEFORE a big shuffle —
    row/key counts, the hottest key, p99 key weight, and the salt
    factor that would level the hottest key across the driver's 200
    shuffle partitions (ceil(max_key / (rows/200)) — the parameter
    operators/skew.py::salted_join takes). One map-side-combinable
    groupBy; the hottest-key argmax rides the same shuffle as a
    window max, no second scan."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    kc = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    mx = Window.partitionBy("event_type")
    kcm = kc.withColumn("mx", F.max("c").over(mx))
    return (
        kcm.groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("max_key_rows"),
            F.min(F.when(F.col("c") == F.col("mx"), F.col("user_id")))
            .cast("long")
            .alias("hottest_key"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
                "avg_key_rows"
            ),
            F.expr("percentile(c, 0.99)").alias("p99_key_rows"),
            F.ceil(
                F.max("c").cast("double")
                / (F.sum("c").cast("double") / 200.0)
            )
            .cast("long")
            .alias("salt_factor"),
        )
        .orderBy("event_type")
    )


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peeling oracle (the unrolled-fixpoint device):
    round i computes degrees of nbr{i}, keeps nodes with ≥ k, and
    restricts the symmetric neighbor list to kept endpoints."""
    parts = [
        """nbr0 AS (
      SELECT a AS node, b AS nbr FROM edges
      UNION ALL SELECT b, a FROM edges
    )"""
    ]
    for i in range(rounds):
        parts.append(
            f"""keep{i} AS (
      SELECT node FROM (
        SELECT node, count(*) AS d FROM nbr{i} GROUP BY node
      ) WHERE d >= {k}
    ),
    nbr{i + 1} AS (
      SELECT n.node, n.nbr FROM nbr{i} n
      JOIN keep{i} x ON x.node = n.node
      JOIN keep{i} y ON y.node = n.nbr
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "kcore_users_events",
    f"""
    WITH {{edges}},
    {_kcore_oracle_sql(2, 4)}
    SELECT node AS user_id, CAST(count(*) AS BIGINT) AS degree
    FROM nbr4 GROUP BY node
    ORDER BY degree DESC, user_id ASC
    """.replace("{edges}", _coactivity_edges_sql(3).strip().rstrip()),
)
def kcore_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the shared≥3 user co-activity graph via 4 bounded
    peeling rounds (operators/graph.py::kcore_fixed_rounds) — the
    standard community-density filter (degree-1 tendrils peel away
    shell by shell); the oracle unrolls the identical 4 synchronous
    rounds in SQL.

    CALIBRATION-CLASS (the exact-vs-LSH dedup pattern): peeling is
    O(edges)/round, but the RAW co-activity graph's edge count
    densifies ~quadratically with slot density — the largest sf1.0
    completion in BENCH_sf1 r7 (138 s, 17.6× per-unit on 10× data),
    so this exact row calibrates the production form,
    ``kcore_capped_users`` (queries_r8.py), whose top-16 neighbor
    cap bounds every peeling round at O(n·k) regardless of raw-graph
    density (committed r8 BENCH_sf1.json artifact: 61.0 s at sf1.0
    vs 122.7 s here — and since round 9 the twin's CONSTRUCTOR is
    slot-bounded too, so the gap widens further with scale)."""
    from dbt_lakehouse_aws_spark.operators.coactivity import coactivity_edges as _coactivity_edges
    from dbt_lakehouse_aws_spark.operators.graph import kcore_fixed_rounds

    edges = _coactivity_edges(spark, sf_dir, min_shared=3)
    out = kcore_fixed_rounds(edges, src="a", dst="b", k=2, rounds=4)
    return out.select(F.col("node").alias("user_id"), "degree").orderBy(
        F.desc("degree"), F.asc("user_id")
    )





@register(
    "array_hof_embedding_stats",
    """
    WITH per AS (
      SELECT label,
             CAST(list_sum(list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e6
                                    + 0.5) AS BIGINT))) AS BIGINT) AS sq_micro,
             list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
             CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(sq_micro) AS BIGINT) AS sum_sq_micro,
           CAST(sum(n_pos) AS BIGINT) AS total_pos,
           floor(max(max_abs) * 1e6 + 0.5) / 1e6 AS max_abs_elem
    FROM per GROUP BY label ORDER BY label
    """,
)
def array_hof_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function gauntlet over the embedding
    column: per-vector fold (aggregate), transform, filter, and
    array_max — all inside codegen, no explode, no Python. Element
    squares are quantized to integer microunits INSIDE the fold so
    every cross-row aggregate is an exact BIGINT (float32 inputs are
    cast to double before multiplying in BOTH engines — a float
    multiply would round differently)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    sq_micro = F.aggregate(
        F.col("embedding"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(xd(x) * xd(x) * 1e6 + F.lit(0.5)).cast("long"),
    )
    max_abs = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x))))
    n_pos = F.size(F.filter(F.col("embedding"), lambda x: x > 0)).cast("long")
    per = e.select(
        F.col("label").cast("long").alias("label"),
        sq_micro.alias("sq_micro"),
        max_abs.alias("max_abs"),
        n_pos.alias("n_pos"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("sq_micro").cast("long").alias("sum_sq_micro"),
            F.sum("n_pos").cast("long").alias("total_pos"),
            (F.floor(F.max("max_abs") * 1e6 + F.lit(0.5)) / 1e6).alias(
                "max_abs_elem"
            ),
        )
        .orderBy("label")
    )


@register(
    "json_typed_props_events",
    """
    WITH parsed AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(k) AS BIGINT) AS n_parsed,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(count(DISTINCT k // 25) AS BIGINT) AS n_k_bands
    FROM parsed GROUP BY event_type ORDER BY event_type
    """,
)
def json_typed_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON-path extraction (from_json with an explicit schema
    — the codegen JSON reader, vs f_json_props' portable regex):
    parse rate, range, and 25-wide band cardinality of the numeric
    payload per event type. Banding uses integer floor-division,
    identical in both engines on non-negative ints."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count("k").cast("long").alias("n_parsed"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.countDistinct(F.floor(F.col("k") / 25)).cast("long").alias(
                "n_k_bands"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "xml_roundtrip_parts",
    """
    WITH hostile AS (
      SELECT p_partkey,
             concat(p_name,
                    CASE p_partkey % 5
                      WHEN 0 THEN ' & <sons>'
                      WHEN 1 THEN ' "mixed" ''quotes'''
                      WHEN 2 THEN ' ]]> cdata-end'
                      WHEN 3 THEN ' a<b&c'
                      ELSE '' END) AS hostile_name,
             p_brand
      FROM part
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(length(hostile_name)) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN contains(hostile_name, '&')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_amp,
           CAST(sum(CASE WHEN contains(hostile_name, '<')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lt
    FROM hostile
    GROUP BY p_brand
    """,
)
def xml_roundtrip_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML roundtrip under ENTITY-HOSTILE field content — Spark 4's
    built-in XML source (the spark-xml package folded into core)
    writing and re-reading strings that require entity escaping:
    ``&``, ``<``/``>``, mixed quote characters, and a literal
    ``]]>`` CDATA terminator. A deterministic mutation plants each
    hazard by key; the table is written with the distributed XML
    writer (one file per partition, ``rowTag`` framing) and read
    back with an explicit schema, and the aggregate over the
    read-back copy must match the oracle computed over the mutated
    SOURCE — any escaping loss shifts lengths or hazard counts.
    Completes the ingest-roundtrip family (CSV-quoted, ORC, bz2
    JSONL, fixed-width, Avro)."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part")
    hostile = p.select(
        "p_partkey",
        F.concat(
            F.col("p_name"),
            F.when(F.col("p_partkey") % 5 == 0, F.lit(" & <sons>"))
            .when(F.col("p_partkey") % 5 == 1, F.lit(' "mixed" \'quotes\''))
            .when(F.col("p_partkey") % 5 == 2, F.lit(" ]]> cdata-end"))
            .when(F.col("p_partkey") % 5 == 3, F.lit(" a<b&c"))
            .otherwise(F.lit("")),
        ).alias("hostile_name"),
        "p_brand",
    )
    root = tempfile.mkdtemp(prefix=f"xmlrt_{uuid.uuid4().hex[:8]}_") + "/parts"
    hostile.write.mode("overwrite").format("xml").option("rowTag", "part").save(
        root
    )
    back = (
        spark.read.schema("p_partkey long, hostile_name string, p_brand string")
        .format("xml")
        .option("rowTag", "part")
        .load(root)
    )
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.length("hostile_name")).cast("long").alias("total_chars"),
        F.sum(
            F.when(F.col("hostile_name").contains("&"), 1).otherwise(0)
        ).cast("long").alias("n_amp"),
        F.sum(
            F.when(F.col("hostile_name").contains("<"), 1).otherwise(0)
        ).cast("long").alias("n_lt"),
    )


@register(
    "bloom_semi_join_orders",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 5000
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def bloom_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join (operators/bloomjoin.py): orders placed
    by high-balance AUTOMOBILE customers, with the fact side
    pre-filtered by a broadcast 128 KiB Bloom bitmap BEFORE its
    shuffle — the scalable shape when the dim keyset is too large to
    broadcast exactly but its bitmap is constant-size. The trailing
    exact semi-join removes false positives, so the result is
    bit-identical to the plain semi-join the oracle runs; the
    unit test pins no-false-negatives and the <1% fp bound."""
    from dbt_lakehouse_aws_spark.operators.bloomjoin import bloom_semi_join
    from dbt_lakehouse_aws_spark.standard_queries import T

    orders = T(spark, sf_dir, "orders")
    small = (
        T(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == "AUTOMOBILE")
            & (F.col("c_acctbal") > 5000)
        )
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return (
        bloom_semi_join(orders, small, "o_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "prefix_jaccard_pairs_docs",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(tokens) - 1),
                                   i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS shingle
      FROM toks WHERE len(tokens) >= 3
    ), sizes AS (
      SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i) >= 0.4
    """,
)
def prefix_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.4 pairs by PREFIX FILTERING
    (llmops/dedup.py::prefix_filter_jaccard_pairs — the
    AllPairs/PPJoin device): candidates only from each doc's
    floor(0.6·s)+1 globally-RAREST shingles plus a length filter,
    then exact verification. The oracle is the quadratic all-shingle
    self-join — a different algorithm whose identical output is what
    makes the row a strong check; the unit test additionally pins
    set-equality against ngram_jaccard_pairs at two thresholds."""
    from dbt_lakehouse_aws_spark.llmops.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(d, n=3, threshold=0.4)


@register(
    "isotonic_calibration_orders",
    """
    WITH m AS (
      SELECT o_orderpriority AS grp, strftime(o_orderdate, '%Y-%m') AS x,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS w
      FROM orders GROUP BY 1, 2
    ),
    p AS (
      SELECT grp, x, s, w,
             row_number() OVER (PARTITION BY grp ORDER BY x) AS k,
             CAST(sum(s) OVER (PARTITION BY grp ORDER BY x) AS BIGINT) AS cs,
             CAST(sum(w) OVER (PARTITION BY grp ORDER BY x) AS BIGINT) AS cw
      FROM m
    ),
    seg AS (
      SELECT a.grp, a.k AS i, b.k AS j,
             (b.cs - a.cs + a.s) * 1000000 // (b.cw - a.cw + a.w) AS qavg
      FROM p a JOIN p b ON b.grp = a.grp AND b.k >= a.k
    ),
    mm AS (
      SELECT s.grp, pk.k, s.i, min(s.qavg) AS minq
      FROM seg s
      JOIN p pk ON pk.grp = s.grp AND s.i <= pk.k AND s.j >= pk.k
      GROUP BY 1, 2, 3
    ),
    fit AS (
      SELECT grp, k, CAST(max(minq) AS BIGINT) AS fitted_q
      FROM mm GROUP BY 1, 2
    )
    SELECT p.grp AS o_orderpriority, p.x AS month, p.w AS n,
           f.fitted_q
    FROM p JOIN fit f ON f.grp = p.grp AND f.k = p.k
    ORDER BY o_orderpriority, month
    """,
)
def isotonic_calibration_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression (llmops/mlfit.py::isotonic_fit)
    of the monthly finished-order rate per priority class — the PAV
    calibration primitive behind reliability curves, run as one
    Arrow pass per group over the pre-aggregated month frame. The
    oracle replays it through the MINIMAX IDENTITY
    fit(k) = max_{i<=k} min_{j>=k} avg(i..j) in pure BIGINT floor-
    quantized arithmetic (floor commutes with min/max, so the
    quantized minimax equals the quantization of the exact fit) — a
    different algorithm with a provably identical result."""
    from dbt_lakehouse_aws_spark.llmops.mlfit import isotonic_fit
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    agg = o.groupBy(
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("w"),
    )
    fit = isotonic_fit(
        agg,
        group_cols=["o_orderpriority"],
        x_col="month",
        y_sum_col="s",
        w_col="w",
    )
    return fit.select(
        "o_orderpriority",
        "month",
        F.col("w").alias("n"),
        "fitted_q",
    ).orderBy("o_orderpriority", "month")


#: Poisson(1) CDF cut points (k = 0..8, else 9) — identical literals
#: on both engines so the inverse-CDF draw replays bit-exactly.
_POIS1_CDF = (
    "0.3678794412", "0.7357588823", "0.9196986029", "0.9810118431",
    "0.9963401532", "0.9994058151", "0.9999167589", "0.9999897508",
    "0.9999988828",
)


#: deterministic uniform on (orderkey, replicate): affine mod-P then
#: one QUADRATIC mixing round — affine alone is linear in b, so a
#: key's 64 draws would walk a lattice; (h**2 + h + c) mod P breaks the
#: linearity. Pure BIGINT arithmetic (operands < 2**62), written once
#: and evaluated VERBATIM by both engines — no md5, no strings.
_BOOT_U = (
    "((((o_orderkey % 2147483647) * 1103515245 + b * 1299709 + 12345)"
    " % 2147483647) * ((((o_orderkey % 2147483647) * 1103515245"
    " + b * 1299709 + 12345) % 2147483647) + 1) + 987654321)"
    " % 2147483647 / 2147483647.0"
)


def _bootstrap_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS1_CDF)
    )
    return f"CASE {branches} ELSE 9 END"


@register(
    "bootstrap_ci_orders",
    f"""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    rep AS (
      SELECT o.o_orderpriority, b.b,
             CAST(sum(m.m * o.cents) AS BIGINT) AS s,
             CAST(sum(m.m) AS BIGINT) AS n
      FROM o
      CROSS JOIN (SELECT unnest(range(1, 65)) AS b) b,
      LATERAL (
        SELECT {_bootstrap_case_sql(_BOOT_U)} AS m
      ) m
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT o_orderpriority, s, n,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(s AS DOUBLE) / n, b
             ) AS rk
      FROM rep
    ),
    base AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM o GROUP BY 1
    )
    SELECT b.o_orderpriority, b.n_orders,
           b.total_cents * 10000 // b.n_orders AS mean_q,
           lo.s * 10000 // lo.n AS lo_q,
           hi.s * 10000 // hi.n AS hi_q
    FROM base b
    JOIN ranked lo ON lo.o_orderpriority = b.o_orderpriority AND lo.rk = 4
    JOIN ranked hi ON hi.o_orderpriority = b.o_orderpriority AND hi.rk = 61
    ORDER BY b.o_orderpriority
    """,
)
def bootstrap_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 90%-ish CI for mean order value per priority
    (Efron's resampling reshaped for one distributed pass): each of
    B=64 replicates weights every order by a DETERMINISTIC Poisson(1)
    draw — inverse-CDF over a portable quadratic-mix BIGINT hash of
    (orderkey, replicate), the identical SQL text on both engines — so the entire resample replays bit-exactly
    in SQL. Replicate means are exact BIGINT (Σm·cents, Σm) pairs;
    the 4th/61st of the 64 means (ordered by correctly-rounded double
    division — identical cross-engine for identical integer pairs)
    bound the interval, and every output is floor-quantized BIGINT
    (× 10⁴), the same device as isotonic_calibration. One explode +
    two aggregates — no per-replicate scans of the base table."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # the SAME draw SQL text the oracle runs, evaluated by Spark
    m = F.expr(_bootstrap_case_sql(_BOOT_U))
    rep = (
        o.withColumn("b", F.explode(F.sequence(F.lit(1), F.lit(64))))
        .withColumn("m", m)
        .groupBy("o_orderpriority", "b")
        .agg(
            F.sum(F.col("m") * F.col("cents")).cast("long").alias("s"),
            F.sum("m").cast("long").alias("n"),
        )
    )
    ranked = rep.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("o_orderpriority").orderBy(
                F.col("s").cast("double") / F.col("n"), F.col("b")
            )
        ),
    )
    base = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    lo = ranked.filter(F.col("rk") == 4).select(
        "o_orderpriority", F.col("s").alias("lo_s"), F.col("n").alias("lo_n")
    )
    hi = ranked.filter(F.col("rk") == 61).select(
        "o_orderpriority", F.col("s").alias("hi_s"), F.col("n").alias("hi_n")
    )
    return (
        base.join(lo, "o_orderpriority")
        .join(hi, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_orders",
            # exact BIGINT floor division (F.floor(a/b) would route
            # through double and lose exactness past 2^53)
            F.expr("total_cents * 10000L div n_orders").alias("mean_q"),
            F.expr("lo_s * 10000L div lo_n").alias("lo_q"),
            F.expr("hi_s * 10000L div hi_n").alias("hi_q"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "approx_quantile_bounds_orders",
    """
    SELECT q, CAST(count(*) AS BIGINT) AS n, TRUE AS ok
    FROM orders
    CROSS JOIN (
      SELECT unnest(['0.10', '0.25', '0.50', '0.75', '0.90']) AS q
    )
    GROUP BY q
    ORDER BY q
    """,
)
def approx_quantile_bounds_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles with a PROVEN error bound:
    Spark's native ``percentile_approx`` (Greenwald-Khanna, the
    mergeable sketch that runs as one map-side-combinable aggregate
    at any scale) at accuracy 1000 (ε = 0.001 rank error), then the
    guarantee is VERIFIED ENGINE-SIDE against exact ranks — for each
    estimate v: count(x < v) must not exceed ⌈(q+ε)·N⌉ and
    count(x ≤ v) must reach ⌊(q−ε)·N⌋. The sketch value itself is
    engine-specific (DuckDB's qdigest would differ), so the oracle
    pins (probe, N, bound-holds) — the same self-checking device as
    the stream/batch equivalence rows; the ranks are exact counts
    from one broadcast join, not a sort."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    probes = [0.10, 0.25, 0.50, 0.75, 0.90]
    eps = 0.001
    o = T(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("v"))
    est = (
        o.agg(
            F.percentile_approx("v", probes, 1000).alias("est")
        )
        .select(
            F.explode(
                F.arrays_zip(
                    F.array(*[F.lit(f"{p:.2f}") for p in probes]).alias("q"),
                    F.array(*[F.lit(p) for p in probes]).alias("qf"),
                    F.col("est").alias("v"),
                )
            ).alias("z")
        )
        .select("z.q", "z.qf", F.col("z.v").alias("est_v"))
    )
    checked = (
        o.crossJoin(F.broadcast(est))
        .groupBy("q", "qf", "est_v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("v") < F.col("est_v"), 1).otherwise(0))
            .cast("long")
            .alias("rank_lt"),
            F.sum(F.when(F.col("v") <= F.col("est_v"), 1).otherwise(0))
            .cast("long")
            .alias("rank_le"),
        )
    )
    return checked.select(
        "q",
        "n",
        (
            (F.col("rank_lt") <= F.ceil((F.col("qf") + eps) * F.col("n")))
            & (F.col("rank_le") >= F.floor((F.col("qf") - eps) * F.col("n")))
        ).alias("ok"),
    ).orderBy("q")


@register(
    "attribution_models_events",
    """
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS cid, user_id, ts AS cts,
             CAST(extract(hour FROM ts) AS BIGINT) AS channel_hour
      FROM events WHERE event_type = 'click'
    ),
    pairs AS (
      SELECT p.pid, p.cents, c.cid, c.channel_hour,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY c.cts, c.cid) AS rn,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY c.cts DESC, c.cid DESC) AS rn_d,
             count(*) OVER (PARTITION BY p.pid) AS k
      FROM p JOIN c ON c.user_id = p.user_id
       AND c.cts < p.pts AND c.cts >= p.pts - INTERVAL 3 DAY
    ),
    credits AS (
      SELECT 'linear' AS model, channel_hour,
             cents * 1000000 // k AS credit_micro
      FROM pairs
      UNION ALL
      SELECT 'first', channel_hour, cents * 1000000
      FROM pairs WHERE rn = 1
      UNION ALL
      SELECT 'last', channel_hour, cents * 1000000
      FROM pairs WHERE rn_d = 1
    )
    SELECT model, channel_hour,
           CAST(count(*) AS BIGINT) AS n_credits,
           CAST(sum(credit_micro) AS BIGINT) AS credited_micro
    FROM credits
    GROUP BY model, channel_hour
    ORDER BY model, channel_hour
    """,
)
def attribution_models_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution, three models in one pass: every
    purchase credits the user's clicks in the preceding 3 days —
    'linear' splits the purchase equally (floor-quantized BIGINT
    micro-cents, cents·10⁶ div k — exact on both engines), 'first'
    and 'last' give full credit to the window's endpoints
    (deterministic (ts, event_id) tie-break). Credit rolls up by the
    click's hour-of-day channel. The candidate join is an EQUI-join
    on user_id with the time band as a pushed residual — one
    shuffle, per-user fan-out; the three window functions share ONE
    (pid) exchange. Complements asof_purchase_attribution (pure
    last-touch via as-of join)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        "user_id",
        F.col("ts").alias("cts"),
        F.hour("ts").cast("long").alias("channel_hour"),
    )
    by_pid = Window.partitionBy("pid")
    pairs = (
        p.join(
            c.withColumnRenamed("user_id", "c_user_id"),
            (F.col("c_user_id") == F.col("user_id"))
            & (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 3 DAYS")),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                by_pid.orderBy(F.asc("cts"), F.asc("cid"))
            ),
        )
        .withColumn(
            "rn_d",
            F.row_number().over(
                by_pid.orderBy(F.desc("cts"), F.desc("cid"))
            ),
        )
        .withColumn("k", F.count(F.lit(1)).over(by_pid))
        .select("pid", "cents", "channel_hour", "rn", "rn_d", "k")
    )
    full = F.col("cents") * F.lit(1000000)
    credits = (
        pairs.select(
            F.lit("linear").alias("model"),
            "channel_hour",
            F.expr("cents * 1000000L div k").alias("credit_micro"),
        )
        .unionAll(
            pairs.filter(F.col("rn") == 1).select(
                F.lit("first").alias("model"),
                "channel_hour",
                full.alias("credit_micro"),
            )
        )
        .unionAll(
            pairs.filter(F.col("rn_d") == 1).select(
                F.lit("last").alias("model"),
                "channel_hour",
                full.alias("credit_micro"),
            )
        )
    )
    return (
        credits.groupBy("model", "channel_hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credits"),
            F.sum("credit_micro").cast("long").alias("credited_micro"),
        )
        .orderBy("model", "channel_hour")
    )


@register(
    "agg_function_gauntlet_orders",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_finished,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_jumbo,
           CAST(arg_min(CAST(round(o_totalprice * 100) AS BIGINT),
                        o_orderkey) AS BIGINT) AS first_key_cents,
           CAST(arg_max(CAST(round(o_totalprice * 100) AS BIGINT),
                        o_orderkey) AS BIGINT) AS last_key_cents,
           CAST(bit_and(o_orderkey % 255) AS BIGINT) AS key_band_and,
           CAST(bit_or(o_orderkey % 255) AS BIGINT) AS key_band_or,
           CAST(bit_xor(o_orderkey % 255) AS BIGINT) AS key_band_xor,
           round(median(o_totalprice), 4) AS median_price,
           any_value(substr(o_orderpriority, 1, 1)) AS priority_digit
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_function_gauntlet_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-function breadth gauntlet — the order-independent /
    deterministically-argumented members of the SQL aggregate family
    in one pass: count_if, bool_and/bool_or, min_by/max_by keyed on
    the UNIQUE orderkey (tie-free by construction), the bitwise
    aggregates, exact interpolated median (one correctly-rounded
    division of identical doubles on both engines), and any_value
    over a group-constant expression (the only deterministic way to
    exercise it). Order-SENSITIVE aggregates (listagg) and
    float-accumulation ones (stddev/corr) are deliberately excluded
    — those live behind exact sufficient-stats queries
    (a3_regression_slope, moments_by_priority)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_if(F.col("o_orderstatus") == "F")
            .cast("long")
            .alias("n_finished"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo"),
            F.min_by(cents, F.col("o_orderkey"))
            .cast("long")
            .alias("first_key_cents"),
            F.max_by(cents, F.col("o_orderkey"))
            .cast("long")
            .alias("last_key_cents"),
            F.bit_and(F.col("o_orderkey") % 255)
            .cast("long")
            .alias("key_band_and"),
            F.bit_or(F.col("o_orderkey") % 255)
            .cast("long")
            .alias("key_band_or"),
            F.bit_xor(F.col("o_orderkey") % 255)
            .cast("long")
            .alias("key_band_xor"),
            F.round(F.median("o_totalprice"), 4).alias("median_price"),
            F.any_value(F.substring("o_orderpriority", 1, 1)).alias(
                "priority_digit"
            ),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "weighted_median_lineitem",
    """
    WITH t AS (
      SELECT l_returnflag AS f,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    c AS (
      SELECT f, cents, w,
             CAST(sum(w) OVER (PARTITION BY f ORDER BY cents)
                  AS BIGINT) AS cum
      FROM t
    ),
    g AS (SELECT f, CAST(sum(w) AS BIGINT) AS total FROM t GROUP BY f)
    SELECT c.f AS l_returnflag, g.total AS total_qty,
           CAST(min(c.cents) AS BIGINT) AS wmedian_cents
    FROM c JOIN g ON g.f = c.f
    WHERE 2 * c.cum >= g.total
    GROUP BY c.f, g.total
    ORDER BY l_returnflag
    """,
)
def weighted_median_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median line price per return flag —
    the weighted-selection primitive (smallest value whose running
    weight reaches half the group total, all-BIGINT, no
    interpolation ambiguity). Built on the two-pass
    operators/windows.py::prefix_sum, so the running weight never
    funnels a group through one task the way
    ``Window.partitionBy(flag).orderBy(price)`` would at 100 TB
    (3 flags = 3 tasks); group offsets fall out of the SAME global
    prefix sum (min(cum−w) per group = weight mass before the
    group), a broadcast 3-row join. Ties in price are safe by
    construction: the crossing test uses end-of-tie-block cumulative
    weight on both engines (RANGE frame in SQL, min-qualifying-value
    selection here), which is order-invariant within the block."""
    from dbt_lakehouse_aws_spark.operators.windows import prefix_sum
    from dbt_lakehouse_aws_spark.standard_queries import T

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("f"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    ps = prefix_sum(
        li,
        [F.asc("f"), F.asc("cents"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        "w",
        name="cum",
    )
    g = ps.groupBy("f").agg(
        F.min(F.col("cum") - F.col("w")).alias("off"),
        F.max("cum").alias("mx"),
    )
    return (
        ps.join(F.broadcast(g), "f")
        .filter(
            2 * (F.col("cum") - F.col("off")) >= F.col("mx") - F.col("off")
        )
        .groupBy("f")
        .agg(
            F.max(F.col("mx") - F.col("off")).cast("long").alias("total_qty"),
            F.min("cents").cast("long").alias("wmedian_cents"),
        )
        .select(
            F.col("f").alias("l_returnflag"), "total_qty", "wmedian_cents"
        )
        .orderBy("l_returnflag")
    )


@register(
    "string_function_gauntlet_parts",
    """
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS padded_brand,
           rpad(p_type, 20, '.') AS padded_type,
           translate(p_name, 'aeiou', '12345') AS translated,
           reverse(p_type) AS type_rev,
           repeat(p_brand, 2) AS brand_x2,
           CAST(levenshtein(p_brand, 'Brand#00') AS BIGINT) AS lev_brand,
           CAST(strpos(p_name, 'ol') AS BIGINT) AS pos_ol,
           CAST(ascii(p_type) AS BIGINT) AS type_ascii,
           left(p_name, 5) AS name_left5,
           right(p_name, 4) AS name_right4,
           split_part(p_type, ' ', 2) AS type_word2,
           concat_ws('|', p_brand, p_type) AS brand_type,
           trim(concat(' ', p_name, ' ')) AS trimmed
    FROM part
    WHERE p_partkey % 97 = 0
    ORDER BY p_partkey
    """,
)
def string_function_gauntlet_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth gauntlet, row-exact across engines on
    a deterministic key subset: pad/translate/reverse/repeat,
    levenshtein against a literal, 1-based substring search (instr ↔
    strpos, 0 when absent), ascii, left/right slices, split_part,
    concat_ws, and trim — the portable core of the reference's
    string surface (reference models leaned on concat/substr/replace;
    SURVEY §2 F-rows) exercised in one scan with every output
    compared verbatim."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") % 97 == 0)
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("padded_brand"),
        F.rpad("p_type", 20, ".").alias("padded_type"),
        F.translate("p_name", "aeiou", "12345").alias("translated"),
        F.reverse("p_type").alias("type_rev"),
        F.repeat("p_brand", 2).alias("brand_x2"),
        F.levenshtein("p_brand", F.lit("Brand#00"))
        .cast("long")
        .alias("lev_brand"),
        F.instr("p_name", "ol").cast("long").alias("pos_ol"),
        F.ascii("p_type").cast("long").alias("type_ascii"),
        F.expr("left(p_name, 5)").alias("name_left5"),
        F.expr("right(p_name, 4)").alias("name_right4"),
        F.split_part("p_type", F.lit(" "), F.lit(2)).alias("type_word2"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias(
            "trimmed"
        ),
    ).orderBy("p_partkey")


@register(
    "datetime_gauntlet_orders",
    """
    WITH od AS (SELECT CAST(o_orderdate AS DATE) AS d FROM orders)
    SELECT d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(dayofweek(d) + 1 AS BIGINT) AS dow_sun1,
           CAST(weekofyear(d) AS BIGINT) AS iso_week,
           CAST(dayofyear(d) AS BIGINT) AS doy,
           CAST(quarter(d) AS BIGINT) AS qtr,
           last_day(d) AS eom,
           CAST(date_trunc('week', d) AS DATE) AS week_start,
           d + 30 AS plus_30d,
           CAST(datediff('day', d, DATE '1998-12-01') AS BIGINT)
             AS days_to_ref,
           CAST((1998 - extract(year FROM d)) * 12
                + (12 - extract(month FROM d)) AS BIGINT) AS months_to_ref,
           make_date(CAST(extract(year FROM d) AS INT), 7, 1) AS mid_year
    FROM od
    GROUP BY d
    ORDER BY d
    """,
)
def datetime_gauntlet_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time-function breadth gauntlet over every distinct order
    date: day-of-week (pinned to one convention — Spark's dayofweek
    is 1=Sunday, DuckDB's is 0=Sunday, so the oracle shifts by one),
    ISO week-of-year, day-of-year, quarter, last_day, Monday
    week-truncation, +30-day date arithmetic, day datediff to a
    literal, month-boundary distance spelled as explicit
    year/month arithmetic (Spark's fractional months_between and
    DuckDB's boundary-counting datediff('month') disagree by design
    — the portable spelling is the extract form), and make_date."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "d",
            "n",
            F.dayofweek("d").cast("long").alias("dow_sun1"),
            F.weekofyear("d").cast("long").alias("iso_week"),
            F.dayofyear("d").cast("long").alias("doy"),
            F.quarter("d").cast("long").alias("qtr"),
            F.last_day("d").alias("eom"),
            F.date_trunc("week", F.col("d")).cast("date").alias("week_start"),
            F.date_add("d", 30).alias("plus_30d"),
            F.datediff(F.lit("1998-12-01").cast("date"), F.col("d"))
            .cast("long")
            .alias("days_to_ref"),
            (
                (F.lit(1998) - F.year("d")) * 12 + (F.lit(12) - F.month("d"))
            )
            .cast("long")
            .alias("months_to_ref"),
            F.make_date(F.year("d"), F.lit(7), F.lit(1)).alias("mid_year"),
        )
        .orderBy("d")
    )


@register(
    "regex_gauntlet_parts",
    """
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT)
             AS n_vowels,
           regexp_matches(p_name, '^[a-z]+ [a-z]+') AS two_words,
           array_to_string(regexp_extract_all(p_type, '[A-Z]+'), ',')
             AS type_tokens,
           regexp_replace(p_brand, '[0-9]+', '#') AS brand_masked
    FROM part
    WHERE p_partkey % 97 = 0
    ORDER BY p_partkey
    """,
)
def regex_gauntlet_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression breadth gauntlet, row-exact cross-engine
    on the portable Java∩RE2 subset (explicit ASCII classes,
    anchors, quantifiers — no engine-specific escapes): capture-group
    extraction at both ends, global replace, match counting
    (regexp_count ↔ len(regexp_extract_all)), boolean rlike ↔
    regexp_matches, and extract-all flattened through array_join so
    no array column reaches the driver compare."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") % 97 == 0)
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.regexp_extract("p_type", r"^([A-Z]+)", 1).alias("type_head"),
        F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
        F.regexp_count("p_name", F.lit(r"[aeiou]"))
        .cast("long")
        .alias("n_vowels"),
        F.col("p_name").rlike(r"^[a-z]+ [a-z]+").alias("two_words"),
        F.array_join(
            F.expr(r"regexp_extract_all(p_type, '[A-Z]+', 0)"), ","
        ).alias("type_tokens"),
        F.regexp_replace("p_brand", r"[0-9]+", "#").alias("brand_masked"),
    ).orderBy("p_partkey")


@register(
    "arrow_ipc_roundtrip_orders",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def arrow_ipc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC stream roundtrip (sources/arrow_ipc.py): orders →
    one ``.arrows`` stream per partition via mapInArrow — the
    batches are written VERBATIM, no per-row Python and no
    re-encode — read back one task per file and aggregated; the
    oracle computes the same aggregate over the source, so any
    loss or duplication in the interchange shifts counts, cents, or
    the distinct-customer tally. The cheapest binary interop surface the engine
    offers (pandas/polars/DuckDB/Flight all consume IPC streams)."""
    import tempfile
    import uuid as _uuid

    from dbt_lakehouse_aws_spark.sources.arrow_ipc import (
        read_arrow_ipc,
        write_arrow_ipc,
    )
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix=f"ipc_{_uuid.uuid4().hex[:8]}_") + "/orders"
    write_arrow_ipc(o, root)
    back = read_arrow_ipc(spark, root)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
            F.countDistinct("o_custkey").cast("long").alias("n_custkeys"),
        )
        .orderBy("o_orderpriority")
    )
