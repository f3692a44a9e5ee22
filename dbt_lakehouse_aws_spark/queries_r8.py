"""Round-8 queries, promoted from staging (formerly
``staged_r8.py`` — the final 50 of the round-5 staging corpus, in
original file order) into the main registry, per the ROUND-8 PLAN in
``rotation.py``, PLUS four rows moved up on the round-7 verdict:
the capped-LPA twin (verdict item 2, from staged_r12), a NEW capped
k-core twin (verdict item 2), and the two sketch error-bound rows
(verdict item 4: ``hll_error_bound_users`` from staged_r11 and a NEW
KMV bound twin for ``approx_distinct_users``).

Definitions accumulate into module-local dicts via the ``_promoted``
decorator and are appended to ``standard_queries._REGISTRY`` by the
loop at the END of this file, exactly like queries_r5/r6/r7. Every
entry was oracle-verified at sf0.001 AND sf0.01, vanilla-ANSI
checked, plan-linted, sf0.1-timed, and sf1.0-audited under the 240 s
watchdog while in staging BEFORE this promotion;
the four moved-up rows passed the same four gates this round.
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

@_promoted(
    "stl_lite_daily_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    ma AS (
      SELECT a.d, a.cents,
             CAST(sum(b.cents) AS BIGINT) AS sum7,
             CAST(count(*) AS BIGINT) AS n7
      FROM daily a JOIN daily b
        ON b.d BETWEEN a.d - INTERVAL 3 DAY AND a.d + INTERVAL 3 DAY
      GROUP BY a.d, a.cents
      HAVING count(*) = 7
    ),
    season AS (
      SELECT CAST(EXTRACT(dow FROM d) + 1 AS BIGINT) AS wd,
             CAST(sum(7 * cents - sum7) AS BIGINT) AS dsum,
             CAST(count(*) AS BIGINT) AS n
      FROM ma GROUP BY 1
    )
    SELECT ma.d, ma.cents,
           floor(CAST(ma.sum7 AS DOUBLE) / 7 * 1e6 + 0.5) / 1e6 AS trend_q,
           floor(CAST(s.dsum AS DOUBLE) / (7 * s.n) * 1e6 + 0.5) / 1e6
             AS seasonal_q,
           floor((ma.cents - CAST(ma.sum7 AS DOUBLE) / 7
                  - CAST(s.dsum AS DOUBLE) / (7 * s.n)) * 1e6 + 0.5) / 1e6
             AS remainder_q
    FROM ma JOIN season s ON s.wd = CAST(EXTRACT(dow FROM ma.d) + 1 AS BIGINT)
    ORDER BY ma.d
    """,
)
def stl_lite_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the daily revenue series —
    trend (centered 7-day moving average), weekday seasonal, and
    remainder, with EVERY aggregate exact: the detrended series is
    kept as the INTEGER 7·x − Σ₇ (multiplying through by the window
    size instead of averaging floats — per-row float residuals
    averaged later would be summation-order-dependent), so the
    seasonal means are single integer-ratio expressions. The moving
    window is a self-join on the DAY-level frame (bounded by the
    calendar, not row count — no global window funnel), edges
    dropped by the HAVING count = 7 full-window rule. Output is the
    full decomposition per day, floor-quantized 1e-6; remainder ≡
    x − trend − seasonal by construction."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    b = daily.select(F.col("d").alias("bd"), F.col("cents").alias("bcents"))
    ma = (
        daily.join(
            b,
            (F.col("bd") >= F.date_sub(F.col("d"), 3))
            & (F.col("bd") <= F.date_add(F.col("d"), 3)),
        )
        .groupBy("d", "cents")
        .agg(
            F.sum("bcents").cast("long").alias("sum7"),
            F.count(F.lit(1)).cast("long").alias("n7"),
        )
        .filter(F.col("n7") == 7)
    )
    season = ma.groupBy(F.dayofweek("d").cast("long").alias("wd")).agg(
        F.sum(7 * F.col("cents") - F.col("sum7")).cast("long").alias("dsum"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    trend = F.col("sum7").cast("double") / 7
    seasonal = F.col("dsum").cast("double") / (7 * F.col("n"))
    return (
        ma.join(
            F.broadcast(season),
            F.dayofweek(ma["d"]).cast("long") == F.col("wd"),
        )
        .select(
            "d",
            "cents",
            q6(trend).alias("trend_q"),
            q6(seasonal).alias("seasonal_q"),
            q6(F.col("cents") - trend - seasonal).alias("remainder_q"),
        )
        .orderBy("d")
    )


@_promoted(
    "string_format_gauntlet_parts",
    """
    SELECT p_partkey,
           printf('%08d|%s', p_partkey, p_brand) AS tag,
           lpad(p_brand, 12, '*') AS lp,
           rpad(p_type, 16, '.') AS rp,
           translate(p_brand, '#', 'B') AS tr,
           repeat(right(p_brand, 2), 3) AS rep,
           reverse(p_type) AS rev,
           ascii(p_name) AS first_code,
           chr(65 + CAST(p_partkey % 26 AS INTEGER)) AS bucket_chr,
           left(p_name, 5) AS l5,
           right(p_name, 4) AS r4,
           CAST(strpos(p_type, 'BRUSHED') AS BIGINT) AS brushed_at,
           substr(p_name, 2, 4) AS mid
    FROM part
    WHERE p_partkey % 97 = 0
    ORDER BY p_partkey
    """,
)
def string_format_gauntlet_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting/manipulation gauntlet over the cross-engine
    common surface: printf-style formatting (Java format_string and
    C printf agree on %08d/%s), lpad/rpad, translate, repeat,
    reverse, ascii/chr, left/right, instr/strpos (both 1-based,
    0 = absent), substr. Row-level function-surface proof on a
    deterministic key slice; everything is a pushed-down projection
    over one scan."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") % 97 == 0)
    return p.select(
        "p_partkey",
        F.format_string("%08d|%s", "p_partkey", "p_brand").alias("tag"),
        F.lpad("p_brand", 12, "*").alias("lp"),
        F.rpad("p_type", 16, ".").alias("rp"),
        F.translate("p_brand", "#", "B").alias("tr"),
        F.repeat(F.substring(F.col("p_brand"), -2, 2), 3).alias("rep"),
        F.reverse("p_type").alias("rev"),
        F.ascii("p_name").alias("first_code"),
        F.chr(65 + (F.col("p_partkey") % 26)).alias("bucket_chr"),
        F.substring("p_name", 1, 5).alias("l5"),
        F.substring(F.col("p_name"), -4, 4).alias("r4"),
        F.instr("p_type", "BRUSHED").cast("long").alias("brushed_at"),
        F.substring("p_name", 2, 4).alias("mid"),
    ).orderBy("p_partkey")


@_promoted(
    "markov_perplexity_events",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    c AS (
      SELECT prev, event_type, CAST(count(*) AS BIGINT) AS cij
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    r AS (
      SELECT prev, CAST(sum(cij) AS BIGINT) AS ci FROM c GROUP BY 1
    ),
    ll AS (
      SELECT CAST(sum(c.cij) AS BIGINT) AS n,
             sum(c.cij * ln(CAST(c.cij AS DOUBLE) / r.ci)) AS loglik
      FROM c JOIN r ON r.prev = c.prev
    )
    SELECT n,
           floor(loglik * 1e6 + 0.5) / 1e6 AS ll_q,
           floor(exp(-loglik / n) * 1e6 + 0.5) / 1e6 AS perplexity_q
    FROM ll
    """,
)
def markov_perplexity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event stream under its own fitted
    first-order Markov model — the sequence-model companion to
    event_transition_matrix: per-user lag pairs (hash-partitioned
    windows), integer transition counts, in-sample log-likelihood
    Σ cᵢⱼ·ln(cᵢⱼ/cᵢ) and perplexity exp(−LL/N). The float sum runs
    over the |states|² cell frame (bounded by the type vocabulary,
    not rows), each term an exact-integer ratio through one ln —
    cross-engine drift ≤ |cells|·ulp ≈ 1e-10, four orders under the
    1e-6 quantum."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = T(spark, sf_dir, "events").select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    )
    c = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cij"))
    )
    r = c.groupBy("prev").agg(F.sum("cij").cast("long").alias("ci"))
    ll = c.join(r, "prev").agg(
        F.sum("cij").cast("long").alias("n"),
        F.sum(
            F.col("cij") * F.log(F.col("cij").cast("double") / F.col("ci"))
        ).alias("loglik"),
    )
    return ll.select(
        "n",
        (F.floor(F.col("loglik") * 1e6 + 0.5) / 1e6).alias("ll_q"),
        (F.floor(F.exp(-F.col("loglik") / F.col("n")) * 1e6 + 0.5) / 1e6).alias(
            "perplexity_q"
        ),
    )


@_promoted(
    "cramers_v_events",
    """
    WITH obs AS (
      SELECT event_type AS a,
             CAST(EXTRACT(dow FROM ts) + 1 AS BIGINT) AS b,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS na FROM obs GROUP BY 1),
    rb AS (SELECT b, CAST(sum(o) AS BIGINT) AS nb FROM obs GROUP BY 1),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT a) AS BIGINT) AS ka,
                   CAST(count(DISTINCT b) AS BIGINT) AS kb
            FROM obs),
    chi AS (
      SELECT tot.n, tot.ka, tot.kb,
             sum((o - CAST(na AS DOUBLE) * nb / tot.n)
                 * (o - CAST(na AS DOUBLE) * nb / tot.n)
                 / (CAST(na AS DOUBLE) * nb / tot.n)) AS chi2
      FROM obs JOIN ra USING (a) JOIN rb USING (b) CROSS JOIN tot
      GROUP BY tot.n, tot.ka, tot.kb
    )
    SELECT n, ka, kb,
           floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2_q,
           floor(sqrt(chi2 / (n * (least(ka, kb) - 1))) * 1e6 + 0.5) / 1e6
             AS cramers_v_q
    FROM chi
    """,
)
def cramers_v_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between event type and weekday — the
    symmetric-categorical effect size on top of the χ² machinery
    (chi2_terms_by_lang covers selection; this is the normalized
    association statistic): observed counts per (type, weekday)
    cell, expected = row·col/N, χ² summed over the |types|·|7| cell
    frame (bounded by the vocabularies), V = √(χ²/(N·(min(k)−1))).
    All counts exact integers; the float expression per cell is one
    fixed-order formula, drift orders below the 1e-6 quantum."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        F.dayofweek("ts").cast("long").alias("b"),
    )
    obs = e.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("o"))
    ra = obs.groupBy("a").agg(F.sum("o").cast("long").alias("na"))
    rb = obs.groupBy("b").agg(F.sum("o").cast("long").alias("nb"))
    tot = obs.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("a").cast("long").alias("ka"),
        F.countDistinct("b").cast("long").alias("kb"),
    )
    exp_ = F.col("na").cast("double") * F.col("nb") / F.col("n")
    chi = (
        obs.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("n", "ka", "kb")
        .agg(
            F.sum((F.col("o") - exp_) * (F.col("o") - exp_) / exp_).alias("chi2")
        )
    )
    v = F.sqrt(
        F.col("chi2") / (F.col("n") * (F.least(F.col("ka"), F.col("kb")) - 1))
    )
    return chi.select(
        "n",
        "ka",
        "kb",
        (F.floor(F.col("chi2") * 1e6 + 0.5) / 1e6).alias("chi2_q"),
        (F.floor(v * 1e6 + 0.5) / 1e6).alias("cramers_v_q"),
    )


@_promoted(
    "largest_remainder_allocation",
    """
    WITH li AS (
      SELECT l_orderkey AS ok, l_linenumber AS ln,
             CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
    ),
    o AS (
      SELECT o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS total
      FROM orders WHERE o_orderkey % 1000 = 0
    ),
    w AS (
      SELECT li.ok, li.ln, li.q, o.total,
             CAST(sum(li.q) OVER (PARTITION BY li.ok) AS BIGINT) AS qsum,
             CAST(count(*) OVER (PARTITION BY li.ok) AS BIGINT) AS n_lines
      FROM li JOIN o ON o.ok = li.ok
    ),
    base AS (
      SELECT ok, ln, n_lines, total,
             total * q // qsum AS alloc0,
             total * q % qsum AS rem,
             CAST(sum(total * q // qsum) OVER (PARTITION BY ok) AS BIGINT)
               AS base_sum
      FROM w
    ),
    ranked AS (
      SELECT ok, ln, n_lines, total,
             alloc0 + CASE WHEN row_number() OVER (
                             PARTITION BY ok
                             ORDER BY rem DESC, ln ASC)
                           <= total - base_sum
                      THEN 1 ELSE 0 END AS alloc
      FROM base
    )
    SELECT ok AS o_orderkey,
           CAST(max(n_lines) AS BIGINT) AS n_lines,
           CAST(max(total) AS BIGINT) AS total_cents,
           CAST(sum(alloc) AS BIGINT) AS sum_alloc,
           CAST(min(alloc) AS BIGINT) AS min_alloc,
           CAST(max(alloc) AS BIGINT) AS max_alloc
    FROM ranked GROUP BY ok ORDER BY ok
    """,
)
def largest_remainder_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment — the financial
    proration kernel: distribute each order's total cents across its
    lineitems proportionally to quantity with NO lost cents. base =
    ⌊total·q/Q⌋ and remainder total·q mod Q are pure INTEGER
    arithmetic (never a float share rounded later — the classic
    penny-drift bug), the deficit total−Σbase goes one cent each to
    the largest remainders (line number breaking exact ties). All
    windows are per-order hash partitions; the output aggregates
    the invariant Σalloc = total per order, which the oracle's
    replay must also produce exactly."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 1000 == 0)
        .select(
            F.col("o_orderkey").alias("ok"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("total"),
        )
    )
    wp = Window.partitionBy("ok")
    w = li.join(o, "ok").select(
        "ok",
        "ln",
        "q",
        "total",
        F.sum("q").over(wp).cast("long").alias("qsum"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n_lines"),
    )
    alloc0 = F.expr("total * q div qsum")  # true integer division, no float path
    base = w.select(
        "ok",
        "ln",
        "n_lines",
        "total",
        alloc0.alias("alloc0"),
        (F.col("total") * F.col("q") % F.col("qsum")).alias("rem"),
    ).withColumn("base_sum", F.sum("alloc0").over(wp).cast("long"))
    rk = F.row_number().over(
        Window.partitionBy("ok").orderBy(F.desc("rem"), F.asc("ln"))
    )
    ranked = base.select(
        "ok",
        "n_lines",
        "total",
        (
            F.col("alloc0")
            + F.when(rk <= F.col("total") - F.col("base_sum"), 1).otherwise(0)
        ).alias("alloc"),
    )
    return (
        ranked.groupBy("ok")
        .agg(
            F.max("n_lines").cast("long").alias("n_lines"),
            F.max("total").cast("long").alias("total_cents"),
            F.sum("alloc").cast("long").alias("sum_alloc"),
            F.min("alloc").cast("long").alias("min_alloc"),
            F.max("alloc").cast("long").alias("max_alloc"),
        )
        .withColumnRenamed("ok", "o_orderkey")
        .orderBy("o_orderkey")
    )


@_promoted(
    "cidr_longest_prefix_events",
    """
    WITH ips AS (
      SELECT DISTINCT (user_id * 2654435761) % 4294967296 AS ip
      FROM events
    ),
    cidrs AS (
      SELECT s_suppkey AS net_id,
             8 + 8 * (s_suppkey % 3) AS len,
             (s_suppkey * 2654435761 + 40503) % 4294967296 AS net
      FROM supplier
    ),
    rules AS (
      SELECT len, net >> (32 - len) AS prefix,
             CAST(min(net_id) AS BIGINT) AS net_id
      FROM cidrs GROUP BY 1, 2
    ),
    probes AS (
      SELECT ip, r.len, r.net_id
      FROM ips i JOIN rules r ON r.prefix = i.ip >> (32 - r.len)
    ),
    best AS (
      SELECT ip,
             CAST(min((32 - len) * 1000000000 + net_id) AS BIGINT) AS pk
      FROM probes GROUP BY ip
    )
    SELECT CAST(32 - pk // 1000000000 AS BIGINT) AS len,
           CAST(pk % 1000000000 AS BIGINT) AS net_id,
           CAST(count(*) AS BIGINT) AS n_ips
    FROM best
    GROUP BY 1, 2
    ORDER BY n_ips DESC, len DESC, net_id ASC LIMIT 20
    """,
)
def cidr_longest_prefix_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix (CIDR) matching — the geo-IP/firewall join:
    synthetic 32-bit addresses and a three-tier /8 / /16 / /24 rule
    table, matched by EQUI-joining on (len, masked prefix) per tier —
    the standard trick that turns a range-containment problem into
    |tiers| hash joins (at 100 TB each tier join shuffles once on
    the prefix key; no inequality join, no per-row rule scan).
    Longest match wins via the packed integer argmin
    (32−len)·10⁹+rule_id — no floats anywhere; rules sharing a
    (len, prefix) cell dedupe to the smallest id first. Output:
    matched-rule histogram."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ips = (
        T(spark, sf_dir, "events")
        .select(((F.col("user_id") * 2654435761) % 4294967296).alias("ip"))
        .distinct()
    )
    cidrs = T(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("net_id"),
        (8 + 8 * (F.col("s_suppkey") % 3)).alias("len"),
        ((F.col("s_suppkey") * 2654435761 + 40503) % 4294967296).alias("net"),
    )
    def tier_shift(col):
        # the Python shiftright API needs a literal count; the three
        # tier widths are a closed set, so a CASE covers them
        return (
            F.when(F.col("len") == 8, F.shiftright(col, 24))
            .when(F.col("len") == 16, F.shiftright(col, 16))
            .otherwise(F.shiftright(col, 8))
        )

    rules = (
        cidrs.select("len", tier_shift(F.col("net")).alias("prefix"), "net_id")
        .groupBy("len", "prefix")
        .agg(F.min("net_id").cast("long").alias("net_id"))
    )
    probes = ips.join(
        F.broadcast(rules), F.col("prefix") == tier_shift(F.col("ip"))
    )
    best = probes.groupBy("ip").agg(
        F.min((32 - F.col("len")) * 1000000000 + F.col("net_id"))
        .cast("long")
        .alias("pk")
    )
    return (
        best.select(
            (32 - F.floor(F.col("pk") / 1000000000)).cast("long").alias("len"),
            (F.col("pk") % 1000000000).cast("long").alias("net_id"),
        )
        .groupBy("len", "net_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ips"))
        .orderBy(F.desc("n_ips"), F.desc("len"), F.asc("net_id"))
        .limit(20)
    )


@_promoted(
    "iso_calendar_gauntlet_orders",
    """
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS dt,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(isoyear(dt) AS BIGINT) AS iso_year,
           CAST(week(dt) AS BIGINT) AS iso_week,
           CAST(min(quarter(dt)) AS BIGINT) AS q_min,
           CAST(max(dayofyear(dt)) AS BIGINT) AS doy_max,
           CAST(count(DISTINCT last_day(dt)) AS BIGINT) AS n_month_ends,
           CAST(count(DISTINCT date_trunc('week', dt)) AS BIGINT) AS n_weeks,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM d GROUP BY 1, 2
    ORDER BY iso_year, iso_week
    """,
)
def iso_calendar_gauntlet_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 calendar gauntlet — the year-boundary traps every
    reporting pipeline hits: ISO week-year vs calendar year (Dec 29+
    can belong to next year's week 1 — both engines agree on the
    IANA/ISO rule), ISO week numbers, quarters, day-of-year,
    month-end via last_day, Monday-anchored date_trunc('week').
    Grouped by (iso_year, iso_week) with exact counts/cents so a
    single misassigned boundary day reds the row."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("dt"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        d.groupBy(
            F.expr("extract(yearofweek FROM dt)").cast("long").alias("iso_year"),
            F.weekofyear("dt").cast("long").alias("iso_week"),
        )
        .agg(
            F.min(F.quarter("dt")).cast("long").alias("q_min"),
            F.max(F.dayofyear("dt")).cast("long").alias("doy_max"),
            F.countDistinct(F.last_day("dt")).cast("long").alias("n_month_ends"),
            F.countDistinct(F.date_trunc("week", F.col("dt")))
            .cast("long")
            .alias("n_weeks"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("iso_year", "iso_week")
    )


@_promoted(
    "keyset_pagination_parts",
    """
    WITH ranked AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
      FROM part
    ),
    page1 AS (
      SELECT * FROM ranked
      ORDER BY price_cents DESC, p_partkey ASC LIMIT 10
    ),
    anchor AS (
      SELECT price_cents AS ap, p_partkey AS ak FROM page1
      ORDER BY price_cents ASC, p_partkey DESC LIMIT 1
    )
    SELECT CAST(2 AS BIGINT) AS page, r.p_partkey, r.price_cents
    FROM ranked r CROSS JOIN anchor
    WHERE r.price_cents < anchor.ap
       OR (r.price_cents = anchor.ap AND r.p_partkey > anchor.ak)
    ORDER BY r.price_cents DESC, r.p_partkey ASC LIMIT 10
    """,
)
def keyset_pagination_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination — the serving-layer pattern
    that replaces OFFSET at scale: page 2 of the price-ranked parts
    is fetched by the composite-key predicate (price, key) <
    page-1's last row, NOT by skipping rows — OFFSET n scans and
    discards n rows per page (quadratic over a crawl), the keyset
    predicate pushes into the scan and each page is one
    TakeOrdered. The anchor is the min-(price desc, key asc) row of
    page 1, derived in-query; total order = (price_cents DESC,
    partkey ASC) so pagination is gap-free and duplicate-free —
    exactly the serving contract rankings_scan needs."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ranked = T(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    page1 = ranked.orderBy(F.desc("price_cents"), F.asc("p_partkey")).limit(10)
    anchor = page1.orderBy(F.asc("price_cents"), F.desc("p_partkey")).limit(1).select(
        F.col("price_cents").alias("ap"), F.col("p_partkey").alias("ak")
    )
    return (
        ranked.crossJoin(F.broadcast(anchor))
        .filter(
            (F.col("price_cents") < F.col("ap"))
            | ((F.col("price_cents") == F.col("ap")) & (F.col("p_partkey") > F.col("ak")))
        )
        .select(F.lit(2).cast("long").alias("page"), "p_partkey", "price_cents")
        .orderBy(F.desc("price_cents"), F.asc("p_partkey"))
        .limit(10)
    )


@_promoted(
    "timezone_gauntlet_events",
    """
    WITH z AS (
      SELECT unnest(['America/New_York', 'Asia/Kolkata',
                     'Australia/Sydney']) AS tz
    ),
    loc AS (
      SELECT z.tz,
             CAST(EXTRACT(hour FROM
               timezone(z.tz, ts AT TIME ZONE 'UTC')) AS BIGINT)
               AS local_hour,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events CROSS JOIN z
    )
    SELECT tz, local_hour,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM loc GROUP BY 1, 2
    ORDER BY tz, local_hour
    """,
)
def timezone_gauntlet_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-zone conversion gauntlet — UTC event times converted to
    three IANA zones (a DST-observing one, a half-hour-offset one,
    a southern-hemisphere one) and histogrammed by LOCAL hour: both
    engines resolve the same tzdata rules (probed across the 2024
    US spring-forward and fall-back instants — exact agreement), so
    the per-(zone, hour) exact counts/cents red the row on any
    offset or DST divergence. The conversion is a per-row projection
    — no shuffle beyond the final bounded aggregate."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    zones = F.array(
        F.lit("America/New_York"), F.lit("Asia/Kolkata"), F.lit("Australia/Sydney")
    )
    loc = e.withColumn("tz", F.explode(zones)).select(
        "tz",
        F.hour(F.from_utc_timestamp(F.col("ts"), F.col("tz")))
        .cast("long")
        .alias("local_hour"),
        "cents",
    )
    return (
        loc.groupBy("tz", "local_hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("tz", "local_hour")
    )


@_promoted(
    "cohens_d_events",
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
      SELECT a.event_type, a.n AS n1, b.n AS n2,
             CAST(a.sx AS DOUBLE) / a.n AS m1,
             CAST(b.sx AS DOUBLE) / b.n AS m2,
             CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * a.sx / a.n AS ss1,
             CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * b.sx / b.n AS ss2
      FROM s a JOIN s b
        ON b.event_type = a.event_type AND a.grp = 1 AND b.grp = 0
    )
    SELECT event_type, n1, n2,
           floor((m1 - m2) / sqrt((ss1 + ss2) / (n1 + n2 - 2))
                 * 1e6 + 0.5) / 1e6 AS cohens_d_q,
           floor((m1 - m2) / sqrt((ss1 + ss2) / (n1 + n2 - 2))
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)) * 1e6 + 0.5) / 1e6
             AS hedges_g_q
    FROM w ORDER BY event_type
    """,
)
def cohens_d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d and Hedges' g per event type — the effect-size
    companions to welch_ttest_events (a significant-but-tiny effect
    and a huge one look identical to a bare p-value): pooled-SD
    standardized mean difference and its small-sample bias
    correction (1 − 3/(4N−9)), from the SAME integer sufficient
    statistics (n, Σx, Σx² per cell, one pass); the final
    expressions are the only floats, identical op order both
    engines, floor-quantized 1e-6."""
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
    ss1 = F.col("sxx1").cast("double") - F.col("sx1").cast("double") * F.col(
        "sx1"
    ) / F.col("n1")
    ss2 = F.col("sxx2").cast("double") - F.col("sx2").cast("double") * F.col(
        "sx2"
    ) / F.col("n2")
    d = (m1 - m2) / F.sqrt((ss1 + ss2) / (F.col("n1") + F.col("n2") - 2))
    g = d * (1 - 3.0 / (4 * (F.col("n1") + F.col("n2")) - 9))

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    return j.select(
        "event_type",
        "n1",
        "n2",
        q6(d).alias("cohens_d_q"),
        q6(g).alias("hedges_g_q"),
    ).orderBy("event_type")


@_promoted(
    "hhi_by_part_type",
    """
    WITH r AS (
      SELECT p.p_type AS ptype, p.p_brand AS brand,
             CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    t AS (
      SELECT ptype,
             CAST(sum(cents) AS BIGINT) AS tot,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS sq,
             CAST(count(*) AS BIGINT) AS n_brands
      FROM r GROUP BY 1
    )
    SELECT ptype, n_brands, tot AS total_cents,
           floor(sq / (CAST(tot AS DOUBLE) * tot) * 1e6 + 0.5) / 1e6
             AS hhi_q
    FROM t ORDER BY hhi_q DESC, ptype ASC LIMIT 25
    """,
)
def hhi_by_part_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per part type — the
    antitrust/market-share statistic: HHI = Σ share² over brands,
    computed as (Σ revenue²)/(Σ revenue)² so both sums accumulate
    EXACTLY (revenue² rides DECIMAL(38,0)/HUGEINT past 2^63) and
    the only float is one final division, identical op order,
    floor-quantized 1e-6. Top-25 most concentrated types."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    l = T(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), F.col("p_type").alias("ptype"), F.col("p_brand").alias("brand")
    )
    r = (
        l.join(F.broadcast(p), "pk")
        .groupBy("ptype", "brand")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    t = r.groupBy("ptype").agg(
        F.sum("cents").cast("long").alias("tot"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)"))
        .cast("double")
        .alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n_brands"),
    )
    return (
        t.select(
            "ptype",
            "n_brands",
            F.col("tot").alias("total_cents"),
            (
                F.floor(
                    F.col("sq") / (F.col("tot").cast("double") * F.col("tot")) * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("hhi_q"),
        )
        .orderBy(F.desc("hhi_q"), F.asc("ptype"))
        .limit(25)
    )


@_promoted(
    "change_point_daily_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT a.d,
             CAST(sum(b.x) AS BIGINT) AS sl,
             CAST(sum(CAST(b.x AS HUGEINT) * b.x) AS DOUBLE) AS sll,
             CAST(count(*) AS BIGINT) AS nl
      FROM daily a JOIN daily b ON b.d <= a.d
      GROUP BY a.d
    ),
    tot AS (
      SELECT CAST(sum(x) AS BIGINT) AS st,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS stt,
             CAST(count(*) AS BIGINT) AS nt
      FROM daily
    ),
    scored AS (
      SELECT cum.d, cum.nl, tot.nt,
             (cum.sll - CAST(cum.sl AS DOUBLE) * cum.sl / cum.nl)
             + ((tot.stt - cum.sll)
                - CAST(tot.st - cum.sl AS DOUBLE) * (tot.st - cum.sl)
                  / (tot.nt - cum.nl)) AS sse,
             tot.stt - CAST(tot.st AS DOUBLE) * tot.st / tot.nt AS sse0
      FROM cum CROSS JOIN tot
      WHERE cum.nl < tot.nt
    )
    SELECT d AS split_after, nl AS n_left, nt - nl AS n_right,
           floor(sse * 1e3 + 0.5) / 1e3 AS sse_q,
           floor((sse0 - sse) / sse0 * 1e6 + 0.5) / 1e6 AS var_explained_q
    FROM scored
    ORDER BY sse ASC, d ASC LIMIT 1
    """,
)
def change_point_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline change-point detection — one step of binary
    segmentation (CUSUM's offline companion): the day boundary
    minimizing SSE_left + SSE_right of daily revenue, i.e. the
    maximum-variance-reduction split. Sufficient statistics (n, Σx,
    Σx² per prefix) come from a cumulative self-join on the
    calendar-bounded day-level frame — Σx² rides HUGEINT/DECIMAL
    past 2^63 — and each candidate's SSE is one double expression in
    identical op order; exact SSE ties resolve to the earlier date.
    Reports the split, segment sizes, and fraction of variance
    explained."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    daily = T(spark, sf_dir, "events").groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x")
    )
    b = daily.select(F.col("d").alias("bd"), F.col("x").alias("bx"))
    cum = (
        daily.select("d")
        .join(F.broadcast(b), F.col("bd") <= F.col("d"))
        .groupBy("d")
        .agg(
            F.sum("bx").cast("long").alias("sl"),
            F.sum(
                F.col("bx").cast("decimal(19,0)") * F.col("bx").cast("decimal(19,0)")
            )
            .cast("double")
            .alias("sll"),
            F.count(F.lit(1)).cast("long").alias("nl"),
        )
    )
    tot = daily.agg(
        F.sum("x").cast("long").alias("st"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("double")
        .alias("stt"),
        F.count(F.lit(1)).cast("long").alias("nt"),
    )
    sl, sll, nl = F.col("sl"), F.col("sll"), F.col("nl")
    st, stt, nt = F.col("st"), F.col("stt"), F.col("nt")
    sse = (sll - sl.cast("double") * sl / nl) + (
        (stt - sll) - (st - sl).cast("double") * (st - sl) / (nt - nl)
    )
    sse0 = stt - st.cast("double") * st / nt
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(nl < nt)
        .select(
            F.col("d").alias("split_after"),
            nl.alias("n_left"),
            (nt - nl).alias("n_right"),
            (F.floor(sse * 1e3 + 0.5) / 1e3).alias("sse_q"),
            (F.floor((sse0 - sse) / sse0 * 1e6 + 0.5) / 1e6).alias(
                "var_explained_q"
            ),
            sse.alias("_s"),
        )
        .orderBy(F.asc("_s"), F.asc("split_after"))
        .limit(1)
        .drop("_s")
    )


@_promoted(
    "mix_shift_decomposition",
    """
    WITH m AS (
      SELECT event_type,
             CASE WHEN CAST(ts AS DATE) < (SELECT min(CAST(ts AS DATE))
                                           FROM events)
                       + INTERVAL 14 DAY
                  THEN 1 ELSE 2 END AS period,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    j AS (
      SELECT a.event_type,
             a.n AS n1, b.n AS n2, a.cents AS c1, b.cents AS c2
      FROM m a JOIN m b
        ON b.event_type = a.event_type AND a.period = 1 AND b.period = 2
    )
    SELECT event_type, n1, n2, c2 - c1 AS delta_cents,
           floor((n2 - n1) * (CAST(c1 AS DOUBLE) / n1) * 1e6 + 0.5) / 1e6
             AS volume_effect_q,
           floor(n2 * (CAST(c2 AS DOUBLE) / n2 - CAST(c1 AS DOUBLE) / n1)
                 * 1e6 + 0.5) / 1e6 AS rate_effect_q
    FROM j ORDER BY event_type
    """,
)
def mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift (volume/rate) decomposition — the BI bridge every
    revenue review runs: Δrevenue per event type between the first
    fortnight and the rest splits EXACTLY into a volume effect
    (Δn · rate₁) and a rate effect (n₂ · Δrate), which sum to the
    integer delta by construction (volume + rate =
    n₂·r₂ − n₁·r₁ identically — the decomposition identity is the
    invariant the oracle pins). Counts and cents are exact integers;
    the two effect expressions are the only floats, identical op
    order, floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d0 = e.agg(F.min("d").alias("d0"))
    m = (
        e.crossJoin(F.broadcast(d0))
        .withColumn(
            "period",
            F.when(F.col("d") < F.date_add(F.col("d0"), 14), 1).otherwise(2),
        )
        .groupBy("event_type", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    a = m.filter("period = 1").select(
        "event_type", F.col("n").alias("n1"), F.col("cents").alias("c1")
    )
    b = m.filter("period = 2").select(
        "event_type", F.col("n").alias("n2"), F.col("cents").alias("c2")
    )
    j = a.join(b, "event_type")
    r1 = F.col("c1").cast("double") / F.col("n1")
    r2 = F.col("c2").cast("double") / F.col("n2")
    return j.select(
        "event_type",
        "n1",
        "n2",
        (F.col("c2") - F.col("c1")).alias("delta_cents"),
        (F.floor((F.col("n2") - F.col("n1")) * r1 * 1e6 + 0.5) / 1e6).alias(
            "volume_effect_q"
        ),
        (F.floor(F.col("n2") * (r2 - r1) * 1e6 + 0.5) / 1e6).alias("rate_effect_q"),
    ).orderBy("event_type")


@_promoted(
    "linear_interpolate_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      GROUP BY 1, 2
    ),
    sparse AS (
      SELECT * FROM daily
      WHERE (dayofyear(d) + length(event_type)) % 3 <> 0
    ),
    bounds AS (
      SELECT event_type, min(d) AS d0, max(d) AS d1 FROM sparse GROUP BY 1
    ),
    grid AS (
      SELECT b.event_type, g.g AS d
      FROM bounds b, LATERAL (
        SELECT unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS g
      ) g
    ),
    joined AS (
      SELECT g.event_type, g.d, s.cents
      FROM grid g LEFT JOIN sparse s
        ON s.event_type = g.event_type AND s.d = g.d
    ),
    filled AS (
      SELECT event_type, d, cents,
             last_value(cents IGNORE NULLS) OVER w AS pv,
             last_value(CASE WHEN cents IS NOT NULL THEN d END IGNORE NULLS)
               OVER w AS pd,
             first_value(cents IGNORE NULLS) OVER w2 AS nv,
             first_value(CASE WHEN cents IS NOT NULL THEN d END IGNORE NULLS)
               OVER w2 AS nd
      FROM joined
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS UNBOUNDED PRECEDING),
             w2 AS (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, d,
           CASE WHEN cents IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
           CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
                ELSE floor((CAST(pv AS DOUBLE)
                            + (CAST(nv AS DOUBLE) - pv)
                              * datediff('day', pd, d)
                              / datediff('day', pd, nd))
                           * 1e6 + 0.5) / 1e6 END AS value_q
    FROM filled
    WHERE pv IS NOT NULL AND nv IS NOT NULL
    ORDER BY event_type, d
    """,
)
def linear_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over time-series gaps — the companion to
    gapfill's LOCF (carry-forward biases a trend; interpolation is
    what metric backfills actually want): a deterministic sparse
    slice of the per-type daily sums, the dense calendar grid
    rebuilt per group inside codegen, then each hole takes
    prev + (next−prev)·Δd/Δspan — an exact integer rational
    quantized once (both engines evaluate the same op order). The
    two-sided neighbor scan is last/first IGNORE NULLS over
    per-type hash-partitioned windows — one exchange, no one-task
    funnel; edge rows without both neighbors are dropped
    (interpolation, not extrapolation)."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    daily = (
        T(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    sparse = daily.filter(
        (F.dayofyear("d") + F.length("event_type")) % 3 != 0
    )
    bounds = sparse.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("d0", "d1")).alias("d"),
    )
    joined = grid.join(sparse, ["event_type", "d"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("cents").isNotNull(), F.col("d"))
    filled = joined.select(
        "event_type",
        "d",
        "cents",
        F.last("cents", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_d, ignorenulls=True).over(wb).alias("pd"),
        F.first("cents", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_d, ignorenulls=True).over(wf).alias("nd"),
    )
    interp = F.col("pv").cast("double") + (
        F.col("nv").cast("double") - F.col("pv")
    ) * F.datediff(F.col("d"), F.col("pd")) / F.datediff(F.col("nd"), F.col("pd"))
    return (
        filled.filter(F.col("pv").isNotNull() & F.col("nv").isNotNull())
        .select(
            "event_type",
            "d",
            F.when(F.col("cents").isNotNull(), 0).otherwise(1).alias("interpolated"),
            F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
            .otherwise(F.floor(interp * 1e6 + 0.5) / 1e6)
            .alias("value_q"),
        )
        .orderBy("event_type", "d")
    )


@_promoted(
    "reconcile_order_totals",
    """
    WITH li AS (
      SELECT l_orderkey AS ok,
             CAST(sum(round(round(l_extendedprice * 100)
                            * (1 - l_discount) * (1 + l_tax)))
                  AS BIGINT) AS derived_cents,
             CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_cents,
             li.derived_cents, li.n_lines
      FROM orders o JOIN li ON li.ok = o.o_orderkey
    ),
    flagged AS (
      SELECT *,
             abs(header_cents - derived_cents) AS drift_cents
      FROM j
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN drift_cents = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(CASE WHEN drift_cents > n_lines THEN 1 ELSE 0 END)
                AS BIGINT) AS n_beyond_rounding,
           CAST(max(drift_cents) AS BIGINT) AS max_drift_cents,
           CAST(sum(drift_cents) AS BIGINT) AS total_drift_cents
    FROM flagged
    """,
)
def reconcile_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail financial reconciliation — the audit every
    billing pipeline runs: each order's header total against the sum
    of its lineitems' extendedprice·(1−discount)·(1+tax), ALL in
    integer cents (the per-line charge is rounded once to a cent,
    exactly as an invoice line would be), with a per-order rounding
    tolerance of one cent per line. One co-partitioned aggregate on
    the order key + one join — at 100 TB both sides shuffle once on
    the same key. Reports the exact-match count, the
    beyond-rounding-tolerance count, and drift totals; a single
    cent of cross-engine disagreement reds the row."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    li = T(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("ok")
    ).agg(
        F.sum(
            F.round(
                F.round(F.col("l_extendedprice") * 100)
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            )
        )
        .cast("long")
        .alias("derived_cents"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_cents"),
    )
    j = o.join(li, o["o_orderkey"] == li["ok"])
    drift = F.abs(F.col("header_cents") - F.col("derived_cents"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(drift == 0, 1).otherwise(0)).cast("long").alias("n_exact"),
        F.sum(F.when(drift > F.col("n_lines"), 1).otherwise(0))
        .cast("long")
        .alias("n_beyond_rounding"),
        F.max(drift).cast("long").alias("max_drift_cents"),
        F.sum(drift).cast("long").alias("total_drift_cents"),
    )


@_promoted(
    "acid_replace_where_events",
    """
    WITH base AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    replaced AS (
      SELECT event_type, cents * 2 AS cents
      FROM base WHERE event_type = 'error'
      UNION ALL
      SELECT event_type, cents FROM base WHERE event_type <> 'error'
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM replaced GROUP BY event_type ORDER BY event_type
    """,
)
def acid_replace_where_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-scoped INSERT OVERWRITE under the driver gate
    (sources/acid.py::replace_where — public Delta replaceWhere
    semantics, dbt's insert_overwrite incremental strategy): load
    the events into an ACID table, then atomically replace ONLY the
    'error' slice with a reprocessed batch (cents doubled) in one
    commit — the un-touched slices must carry over byte-identical,
    the version must bump exactly once, and the read-back per-type
    aggregate must equal the oracle's relational replay of
    replace-then-union."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.standard_queries import T

    base = T(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    t = AcidTable(
        spark, tempfile.mkdtemp(prefix=f"rw_{uuid.uuid4().hex[:8]}_") + "/t"
    )
    t.write(base)
    v0 = t.latest_version()
    reprocessed = base.filter(F.col("event_type") == "error").select(
        "event_type", (F.col("cents") * 2).alias("cents")
    )
    snap = t.replace_where(reprocessed, "event_type = 'error'")
    assert snap.version == v0 + 1, "replace_where must be one commit"
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("event_type")
    )


@_promoted(
    "daily_percentile_bands",
    """
    WITH x AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT d,
           CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(cents, 0.5) AS BIGINT) AS p50,
           CAST(quantile_disc(cents, 0.9) AS BIGINT) AS p90,
           CAST(quantile_disc(cents, 0.99) AS BIGINT) AS p99,
           CAST(max(cents) AS BIGINT) AS p100
    FROM x GROUP BY d ORDER BY d
    """,
)
def daily_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p50/p90/p99/max bands — the ops-dashboard trend every
    latency/value SLO review reads: exact DISCRETE percentiles per
    day (percentile_disc returns an actual data value — integer
    cents, bit-comparable across engines; interpolated quantiles at
    rounding boundaries are not), one hash-partitioned aggregate on
    the day key. At 100 TB per-day groups are balanced by the
    calendar and the sort is within-group; for truly hot days the
    approx_percentile sketch is the documented fallback."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    x = T(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def pdisc(p):
        return F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY cents)"
        ).cast("long")

    return (
        x.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            pdisc(0.5).alias("p50"),
            pdisc(0.9).alias("p90"),
            pdisc(0.99).alias("p99"),
            F.max("cents").cast("long").alias("p100"),
        )
        .orderBy("d")
    )


@_promoted(
    "wilson_ci_conversion",
    """
    WITH s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS k
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT event_type, n, k,
             CAST(k AS DOUBLE) / n AS p,
             1.959963984540054 AS z
      FROM s
    )
    SELECT event_type, n, k,
           floor(p * 1e6 + 0.5) / 1e6 AS p_hat_q,
           floor((p + z * z / (2 * n)
                  - z * sqrt((p * (1 - p) + z * z / (4 * n)) / n))
                 / (1 + z * z / n) * 1e6 + 0.5) / 1e6 AS wilson_lo_q,
           floor((p + z * z / (2 * n)
                  + z * sqrt((p * (1 - p) + z * z / (4 * n)) / n))
                 / (1 + z * z / n) * 1e6 + 0.5) / 1e6 AS wilson_hi_q
    FROM w ORDER BY event_type
    """,
)
def wilson_ci_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score confidence interval for a proportion — what the
    A/B z-test family should ship alongside its point estimates
    (the normal-approximation interval misbehaves at small n and
    extreme p; Wilson stays inside [0,1]): high-value rate per event
    type, exact integer (n, k), the closed-form interval as two
    fixed-order float expressions with z pinned to the double
    literal 1.959963984540054, floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    s = T(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") >= 50, 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    n, k = F.col("n"), F.col("k")
    p = k.cast("double") / n
    z = F.lit(1.959963984540054)
    center = p + z * z / (2 * n)
    half = z * F.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
    denom = 1 + z * z / n

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    return s.select(
        "event_type",
        "n",
        "k",
        q6(p).alias("p_hat_q"),
        q6((center - half) / denom).alias("wilson_lo_q"),
        q6((center + half) / denom).alias("wilson_hi_q"),
    ).orderBy("event_type")


@_promoted(
    "dispersion_index_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS days,
             CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS scc
      FROM daily GROUP BY 1
    )
    SELECT event_type, days, sc AS total,
           floor((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / days)
                 / (days - 1) / (CAST(sc AS DOUBLE) / days)
                 * 1e6 + 0.5) / 1e6 AS dispersion_q
    FROM s ORDER BY event_type
    """,
)
def dispersion_index_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of daily event
    counts per type — the standard Poisson overdispersion check
    (≈1 Poisson, >1 burstiness/contagion, <1 regularity) that
    decides between Poisson and negative-binomial models downstream:
    integer (days, Σc, Σc²) per type, one fixed-order float
    expression, floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    daily = (
        T(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("days"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
    )
    disp = (
        (F.col("scc").cast("double") - F.col("sc").cast("double") * F.col("sc") / F.col("days"))
        / (F.col("days") - 1)
        / (F.col("sc").cast("double") / F.col("days"))
    )
    return s.select(
        "event_type",
        "days",
        F.col("sc").alias("total"),
        (F.floor(disp * 1e6 + 0.5) / 1e6).alias("dispersion_q"),
    ).orderBy("event_type")


@_promoted(
    "durbin_watson_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    diffs AS (
      SELECT CAST(sum(CAST(b.x - a.x AS HUGEINT) * (b.x - a.x)) AS DOUBLE)
               AS sdd
      FROM daily a JOIN daily b ON b.d = a.d + INTERVAL 1 DAY
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx
      FROM daily
    )
    SELECT tot.n,
           floor(diffs.sdd
                 / (tot.sxx - CAST(tot.sx AS DOUBLE) * tot.sx / tot.n)
                 * 1e6 + 0.5) / 1e6 AS dw_q
    FROM diffs CROSS JOIN tot
    """,
)
def durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson autocorrelation statistic of the daily revenue
    series — the residual-independence check behind every trend
    regression (≈2 none, →0 positive, →4 negative autocorrelation):
    DW = Σ(Δx)²/Σ(x−x̄)², the numerator from a CALENDAR SELF-JOIN on
    d+1 (no global-order window, no one-task funnel) and both sums
    exact (squares ride DECIMAL/HUGEINT); one fixed-order float
    division, floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    daily = T(spark, sf_dir, "events").groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x")
    )
    b = daily.select(F.date_sub("d", 1).alias("d"), F.col("x").alias("nx"))
    dd = F.col("nx").cast("decimal(19,0)") - F.col("x").cast("decimal(19,0)")
    diffs = daily.join(b, "d").agg(
        F.sum(dd * dd).cast("double").alias("sdd")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxx"),
    )
    dw = F.col("sdd") / (
        F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    )
    return diffs.crossJoin(F.broadcast(tot)).select(
        "n", (F.floor(dw * 1e6 + 0.5) / 1e6).alias("dw_q")
    )


@_promoted(
    "k_anon_generalization_ladder",
    """
    WITH ladder AS (
      SELECT unnest([1000, 5000, 10000, 50000, 100000]) AS bucket
    ),
    grouped AS (
      SELECT l.bucket,
             CAST(round(o.o_totalprice * 100) AS BIGINT)
               // (l.bucket * 100) AS qi_price,
             o.o_orderpriority AS qi_prio,
             CAST(count(*) AS BIGINT) AS group_size
      FROM orders o CROSS JOIN ladder l
      GROUP BY 1, 2, 3
    ),
    audit AS (
      SELECT bucket,
             CAST(min(group_size) AS BIGINT) AS min_group,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN group_size < 5 THEN group_size ELSE 0 END)
                  AS BIGINT) AS rows_at_risk
      FROM grouped GROUP BY 1
    )
    SELECT bucket, min_group, n_groups, rows_at_risk,
           CASE WHEN min_group >= 5 THEN 1 ELSE 0 END AS satisfies_k5
    FROM audit ORDER BY bucket
    """,
)
def k_anon_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization search — the release-side
    companion to the k_anonymity audit: walk a price-bucket
    generalization LADDER (five coarseness levels × the priority
    quasi-identifier) and report, per level, the minimum group size,
    group count, and rows-at-risk, flagging the levels that satisfy
    k=5 — i.e. the coarsest-data/finest-bucket trade a privacy
    officer actually picks from. One aggregate per level computed in
    a single pass (the ladder CROSS JOIN is a 5-row broadcast, the
    heavy side shuffles once on the generalized keys)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    ladder = local_frame(
        spark, [(b,) for b in [1000, 5000, 10000, 50000, 100000]], "bucket long"
    )
    o = T(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("qi_prio"),
    )
    grouped = (
        o.crossJoin(F.broadcast(ladder))
        .groupBy(
            "bucket",
            F.expr("cents div (bucket * 100)").alias("qi_price"),
            "qi_prio",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
    )
    return (
        grouped.groupBy("bucket")
        .agg(
            F.min("group_size").cast("long").alias("min_group"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(
                F.when(F.col("group_size") < 5, F.col("group_size")).otherwise(0)
            )
            .cast("long")
            .alias("rows_at_risk"),
        )
        .select(
            "bucket",
            "min_group",
            "n_groups",
            "rows_at_risk",
            F.when(F.col("min_group") >= 5, 1).otherwise(0).alias("satisfies_k5"),
        )
        .orderBy("bucket")
    )


@_promoted(
    "degree_assortativity_users",
    # NOTE: two-stage capped co-activity prelude (round 9, VERDICT r8
    # items 1+2) — `strong` is the slot-bounded weighted edge list.
    """
    WITH PLACEHOLDER_CAPPED_PRELUDE,
    edges AS (SELECT a, b FROM strong),
    und AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    deg AS (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
    ),
    pairs AS (
      SELECT da.d AS dx, db.d AS dy
      FROM und JOIN deg da ON da.u = und.u JOIN deg db ON db.u = und.v
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(dx) AS BIGINT) AS sx,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dx * dy) AS BIGINT) AS sxy
      FROM pairs
    )
    SELECT m AS n_directed_edges,
           floor((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 * 1e6 + 0.5) / 1e6 AS assortativity_q
    FROM s
    """,
)
def degree_assortativity_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the SLOT-BOUNDED co-activity graph —
    Newman's r: the Pearson correlation of endpoint degrees over all
    directed edge instances (do hubs attach to hubs — social nets
    assortative, infrastructure nets disassortative). On the
    symmetrized edge list both endpoint marginals are identical, so
    r collapses to (mΣxy−(Σx)²)/(mΣx²−(Σx)²) with EVERY sum an
    exact integer (degrees are counts); one float expression,
    floor-quantized 1e-6. Degrees come from one aggregate, the
    edge⋈degree joins are hash joins on the node key. Re-based in
    round 9 (VERDICT r8 items 1+2): the edge list comes from
    ``coactivity_weighted_capped`` (top-32 participants per
    (event_type, hour) slot before pairing — the same deterministic
    estimand device as the top-16 neighbor cap), so the constructor
    is slots·C(32,2)-bounded instead of the raw Θ(sf²) pair join the
    round-8 registration paid; identical at the driver's sf0.01
    (max slot occupancy 10 < 32)."""
    from dbt_lakehouse_aws_spark.operators.coactivity import (
        coactivity_weighted_capped,
    )

    # pinned: the symmetrizing union + degree joins below read the
    # edge list four times — without the pin the slot self-join
    # constructor replays per branch (guide §5 caching rule)
    edges = (
        coactivity_weighted_capped(spark, sf_dir, min_shared=3)
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    und = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    pairs = (
        und.join(deg.withColumnsRenamed({"u": "u", "d": "dx"}), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dy")), "v")
        .select("dx", "dy")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    )
    m, sx = F.col("m"), F.col("sx")
    r = (m * F.col("sxy").cast("double") - sx.cast("double") * sx) / (
        m * F.col("sxx").cast("double") - sx.cast("double") * sx
    )
    return s.select(
        F.col("m").alias("n_directed_edges"),
        (F.floor(r * 1e6 + 0.5) / 1e6).alias("assortativity_q"),
    )


@_promoted(
    "burst_days_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    trail AS (
      SELECT a.event_type, a.d, a.c,
             CAST(sum(b.c) AS BIGINT) AS sum7,
             CAST(count(*) AS BIGINT) AS n7
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type
       AND b.d >= a.d - INTERVAL 7 DAY AND b.d < a.d
      GROUP BY a.event_type, a.d, a.c
    )
    SELECT event_type, d, c AS day_count, sum7, n7,
           floor(CAST(c * n7 AS DOUBLE) / sum7 * 1e6 + 0.5) / 1e6
             AS ratio_q,
           CASE WHEN c * n7 > 2 * sum7 THEN 1 ELSE 0 END AS burst
    FROM trail
    WHERE n7 >= 3
    ORDER BY floor(CAST(c * n7 AS DOUBLE) / sum7 * 1e6 + 0.5) DESC,
             event_type ASC, d ASC
    LIMIT 10
    """,
)
def burst_days_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection — days where a type's event count exceeds 2×
    its trailing-week average, the ops-alerting primitive: the
    comparison is kept as the INTEGER cross-multiplication
    c·n7 > 2·Σ7 (never a float average compared to a float
    threshold), the trailing window is a calendar self-join on the
    day-level frame (bounded by the calendar — no global-order
    window), and days with under 3 trailing observations are
    suppressed (cold-start guard). Returns the 10 burstiest days with
    the 2× flag — never empty, so the driver row stays meaningful on
    smooth corpora."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    daily = (
        T(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    b = daily.select(
        F.col("event_type").alias("bt"), F.col("d").alias("bd"), F.col("c").alias("bc")
    )
    trail = (
        daily.join(
            b,
            (F.col("bt") == F.col("event_type"))
            & (F.col("bd") >= F.date_sub(F.col("d"), 7))
            & (F.col("bd") < F.col("d")),
        )
        .groupBy("event_type", "d", "c")
        .agg(
            F.sum("bc").cast("long").alias("sum7"),
            F.count(F.lit(1)).cast("long").alias("n7"),
        )
    )
    ratio_scaled = F.floor(
        (F.col("c") * F.col("n7")).cast("double") / F.col("sum7") * 1e6 + 0.5
    )
    return (
        trail.filter(F.col("n7") >= 3)
        .select(
            "event_type",
            "d",
            F.col("c").alias("day_count"),
            "sum7",
            "n7",
            (ratio_scaled / 1e6).alias("ratio_q"),
            F.when(F.col("c") * F.col("n7") > 2 * F.col("sum7"), 1)
            .otherwise(0)
            .alias("burst"),
            ratio_scaled.alias("_r"),
        )
        .orderBy(F.desc("_r"), F.asc("event_type"), F.asc("d"))
        .limit(10)
        .drop("_r")
    )


@_promoted(
    "digest_codec_gauntlet_parts",
    """
    SELECT p_partkey,
           md5(p_name) AS name_md5,
           sha256(p_name) AS name_sha256,
           to_base64(CAST(p_name AS BLOB)) AS name_b64,
           lower(to_hex(p_partkey)) AS key_hex,
           CAST(CAST(from_base64(to_base64(CAST(p_name AS BLOB))) AS VARCHAR)
                = p_name AS BIGINT) AS b64_roundtrip_ok
    FROM part
    WHERE p_partkey % 101 = 0
    ORDER BY p_partkey
    """,
)
def digest_codec_gauntlet_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest and binary-codec gauntlet over the cross-engine common
    surface: md5 and sha-256 hex digests (bit-identical everywhere —
    the same property the portable-hash oracles build on), standard
    base64 with an in-query decode round-trip assertion, and integer
    hex encoding (case-normalized: Spark lowercases, DuckDB
    uppercases — the one deliberate divergence this row pins).
    Pushed-down projection over one scan on a deterministic key
    slice."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") % 101 == 0)
    as_bin = F.col("p_name").cast("binary")
    return p.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2(F.col("p_name"), 256).alias("name_sha256"),
        F.base64(as_bin).alias("name_b64"),
        F.lower(F.hex("p_partkey")).alias("key_hex"),
        (F.unbase64(F.base64(as_bin)).cast("string") == F.col("p_name"))
        .cast("long")
        .alias("b64_roundtrip_ok"),
    ).orderBy("p_partkey")


@_promoted(
    "stream_replace_where_daily",
    """
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d, event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(0 AS BIGINT) AS reprocess_delta
    FROM daily GROUP BY event_type ORDER BY event_type
    """,
)
def stream_replace_where_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming partition refresh under the driver gate
    (streaming/ingest.py::stream_replace_where_into_acid): the
    events stream (Trigger.AvailableNow) lands as a per-(day, type)
    rollup where each micro-batch atomically REPLACES the whole days
    it carries — the insert_overwrite shape daily pipelines want —
    then a reprocessing run re-delivers one full day through
    replace_where directly and the table must be bit-identical
    (reprocess_delta pinned to 0: partition overwrite is idempotent
    for identical payloads, no dedup bookkeeping needed). The oracle
    computes the same rollup relationally from the source."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.standard_queries import T
    from dbt_lakehouse_aws_spark.streaming.ingest import (
        stream_replace_where_into_acid,
    )

    def rollup(df):
        return df.groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("ts", "event_type", "value")
    )
    root = tempfile.mkdtemp(prefix=f"srw_{uuid.uuid4().hex[:8]}_")
    table_path, ckpt = f"{root}/tbl", f"{root}/ckpt"
    q = stream_replace_where_into_acid(
        stream,
        table_path=table_path,
        checkpoint_dir=ckpt,
        partition_col="d",
        transform=rollup,
    )
    q.awaitTermination(600)
    t = AcidTable(spark, table_path)
    before = t.read().agg(F.sum("n"), F.sum("cents")).collect()[0]

    # reprocessing: re-deliver one full day with identical data
    daily = (
        T(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    one_day = daily.agg(F.min("d")).collect()[0][0]
    t.replace_where(
        daily.filter(F.col("d") == one_day), f"d = '{one_day}'"
    )
    after = t.read().agg(F.sum("n"), F.sum("cents")).collect()[0]
    delta = (after[0] - before[0]) + (after[1] - before[1])
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("n").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .withColumn("reprocess_delta", F.lit(delta).cast("long"))
        .orderBy("event_type")
    )


@_promoted(
    "partial_correlation_lineitem",
    """
    WITH li AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
             CAST(round(l_discount * 100) AS BIGINT) AS z
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(z) AS DOUBLE) AS sz,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
             CAST(sum(z * z) AS DOUBLE) AS szz,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * z) AS DOUBLE) AS sxz,
             CAST(sum(y * z) AS DOUBLE) AS syz
      FROM li
    ),
    r AS (
      SELECT n,
             (n * sxy - sx * sy)
               / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rxy,
             (n * sxz - sx * sz)
               / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)) AS rxz,
             (n * syz - sy * sz)
               / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)) AS ryz
      FROM s
    )
    SELECT n,
           floor(rxy * 1e6 + 0.5) / 1e6 AS r_xy_q,
           floor((rxy - rxz * ryz)
                 / sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
                 * 1e6 + 0.5) / 1e6 AS r_xy_given_z_q
    FROM r
    """,
)
def partial_correlation_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation — quantity vs extended price CONTROLLING
    for discount, the confounder-adjusted companion to the plain
    correlation matrix: r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)),
    every pairwise r built from the same one-pass INTEGER sufficient
    statistics (Σy² rides HUGEINT/DECIMAL past 2^63), identical op
    order both engines, floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("z"),
    )
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    dec = "decimal(19,0)"
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(z).cast("double").alias("sz"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y.cast(dec) * y.cast(dec)).cast("double").alias("syy"),
        F.sum(z * z).cast("double").alias("szz"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * z).cast("double").alias("sxz"),
        F.sum(y * z).cast("double").alias("syz"),
    )
    n = F.col("n")

    def r(sab, sa, sb, saa, sbb):
        return (n * sab - sa * sb) / F.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))

    rxy = r(F.col("sxy"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"))
    rxz = r(F.col("sxz"), F.col("sx"), F.col("sz"), F.col("sxx"), F.col("szz"))
    ryz = r(F.col("syz"), F.col("sy"), F.col("sz"), F.col("syy"), F.col("szz"))
    partial = (rxy - rxz * ryz) / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    return s.select(
        "n",
        (F.floor(rxy * 1e6 + 0.5) / 1e6).alias("r_xy_q"),
        (F.floor(partial * 1e6 + 0.5) / 1e6).alias("r_xy_given_z_q"),
    )


@_promoted(
    "mahalanobis_outliers_lineitem",
    """
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM li
    ),
    cov AS (
      SELECT n, sx / n AS mx, sy / n AS my,
             (sxx - sx * sx / n) / (n - 1) AS vxx,
             (syy - sy * sy / n) / (n - 1) AS vyy,
             (sxy - sx * sy / n) / (n - 1) AS vxy
      FROM s
    ),
    scored AS (
      SELECT li.l_orderkey, li.l_linenumber,
             CAST(floor(((li.x - mx) * ((li.x - mx) * vyy - (li.y - my) * vxy)
                         + (li.y - my) * ((li.y - my) * vxx - (li.x - mx) * vxy))
                        / (vxx * vyy - vxy * vxy) * 1e6 + 0.5) AS BIGINT)
               AS d2_scaled
      FROM li CROSS JOIN cov
    )
    SELECT l_orderkey, l_linenumber,
           CAST(d2_scaled AS DOUBLE) / 1e6 AS d2_q
    FROM scored
    ORDER BY d2_scaled DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10
    """,
)
def mahalanobis_outliers_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate (Mahalanobis) outliers on (quantity, price) —
    what per-column z-scores miss: a row can be unremarkable on each
    axis yet far from the correlation ellipse. Mean and covariance
    come from one pass of INTEGER sufficient statistics; the 2×2
    inverse is closed-form inside a single per-row double expression
    whose QUANTIZED value (·1e6, floored to BIGINT) is what gets
    ranked — so the top-10, like every ordering in this file, never
    depends on a sub-quantum float difference. The stats row
    broadcasts; scoring is a pure projection."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    dec = "decimal(19,0)"
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y.cast(dec) * y.cast(dec)).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n")
    cov = s.select(
        (F.col("sx") / n).alias("mx"),
        (F.col("sy") / n).alias("my"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)).alias("vxx"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)).alias("vyy"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)).alias("vxy"),
    )
    dx = x - F.col("mx")
    dy = y - F.col("my")
    d2 = (
        dx * (dx * F.col("vyy") - dy * F.col("vxy"))
        + dy * (dy * F.col("vxx") - dx * F.col("vxy"))
    ) / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"))
    scored = li.crossJoin(F.broadcast(cov)).select(
        "l_orderkey",
        "l_linenumber",
        F.floor(d2 * 1e6 + 0.5).cast("long").alias("d2_scaled"),
    )
    return (
        scored.orderBy(
            F.desc("d2_scaled"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(10)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("d2_scaled").cast("double") / 1e6).alias("d2_q"),
        )
    )


@_promoted(
    "cuped_adjustment_events",
    """
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) + INTERVAL 14 DAY AS cutoff FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(sum(CASE WHEN CAST(ts AS DATE) < bounds.cutoff
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS pre,
             CAST(sum(CASE WHEN CAST(ts AS DATE) >= bounds.cutoff
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS post,
             CAST(sum(CASE WHEN CAST(ts AS DATE) < bounds.cutoff
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pre
      FROM events CROSS JOIN bounds
      GROUP BY user_id
    ),
    cohort AS (SELECT * FROM per_user WHERE n_pre > 0),
    theta_s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre) AS DOUBLE) AS sx,
             CAST(sum(post) AS DOUBLE) AS sy,
             CAST(sum(CAST(pre AS HUGEINT) * pre) AS DOUBLE) AS sxx,
             CAST(sum(CAST(post AS HUGEINT) * post) AS DOUBLE) AS syy,
             CAST(sum(CAST(pre AS HUGEINT) * post) AS DOUBLE) AS sxy
      FROM cohort
    ),
    arm_s AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n_arm,
             CAST(sum(pre) AS DOUBLE) AS asx,
             CAST(sum(post) AS DOUBLE) AS asy
      FROM cohort GROUP BY arm
    )
    SELECT a.arm, a.n_arm,
           floor(a.asy / a.n_arm * 1e6 + 0.5) / 1e6 AS mean_post_q,
           floor((a.asy / a.n_arm
                  - ((t.sxy - t.sx * t.sy / t.n) / (t.sxx - t.sx * t.sx / t.n))
                    * (a.asx / a.n_arm - t.sx / t.n))
                 * 1e6 + 0.5) / 1e6 AS mean_cuped_q,
           floor(((t.sxy - t.sx * t.sy / t.n) * (t.sxy - t.sx * t.sy / t.n))
                 / ((t.sxx - t.sx * t.sx / t.n) * (t.syy - t.sy * t.sy / t.n))
                 * 1e6 + 0.5) / 1e6 AS var_reduction_q
    FROM arm_s a CROSS JOIN theta_s t
    ORDER BY a.arm
    """,
)
def cuped_adjustment_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction — the pre-experiment-covariate
    adjustment every mature experimentation platform applies before
    reading an A/B test: per user, pre-period (first fortnight) and
    post-period value totals in exact integer cents; θ = cov(X,Y)/
    var(X) from pooled integer sufficient statistics (HUGEINT/
    DECIMAL squares); each arm's adjusted mean ȳ − θ(x̄ − x̄_pool)
    and the theoretical variance reduction ρ² are single
    fixed-order float expressions, floor-quantized 1e-6. Users with
    no pre-period activity are excluded (the standard cohort
    rule)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = e.agg(F.date_add(F.min("d"), 14).alias("cutoff"))
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            (F.col("user_id") % 2).cast("long").alias("arm"),
            F.sum(F.when(F.col("d") < F.col("cutoff"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("pre"),
            F.sum(
                F.when(F.col("d") >= F.col("cutoff"), F.col("cents")).otherwise(0)
            )
            .cast("long")
            .alias("post"),
            F.sum(F.when(F.col("d") < F.col("cutoff"), 1).otherwise(0))
            .cast("long")
            .alias("n_pre"),
        )
        .filter(F.col("n_pre") > 0)
    )
    dec = "decimal(19,0)"
    pre, post = F.col("pre"), F.col("post")
    theta_s = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(pre).cast("double").alias("sx"),
        F.sum(post).cast("double").alias("sy"),
        F.sum(pre.cast(dec) * pre.cast(dec)).cast("double").alias("sxx"),
        F.sum(post.cast(dec) * post.cast(dec)).cast("double").alias("syy"),
        F.sum(pre.cast(dec) * post.cast(dec)).cast("double").alias("sxy"),
    )
    arm_s = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_arm"),
        F.sum(pre).cast("double").alias("asx"),
        F.sum(post).cast("double").alias("asy"),
    )
    n = F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    theta = cov / varx
    mean_post = F.col("asy") / F.col("n_arm")
    mean_cuped = mean_post - theta * (F.col("asx") / F.col("n_arm") - F.col("sx") / n)

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    return (
        arm_s.crossJoin(F.broadcast(theta_s))
        .select(
            "arm",
            "n_arm",
            q6(mean_post).alias("mean_post_q"),
            q6(mean_cuped).alias("mean_cuped_q"),
            q6(cov * cov / (varx * vary)).alias("var_reduction_q"),
        )
        .orderBy("arm")
    )


@_promoted(
    "srm_check_events",
    """
    WITH arms AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    j AS (
      SELECT a.n AS na, b.n AS nb
      FROM arms a CROSS JOIN arms b
      WHERE a.arm = 0 AND b.arm = 1
    )
    SELECT na, nb,
           floor(CAST((na - nb) AS DOUBLE) * (na - nb) / (na + nb)
                 * 1e6 + 0.5) / 1e6 AS chi2_q,
           CASE WHEN CAST((na - nb) AS DOUBLE) * (na - nb) / (na + nb)
                     > 3.841458820694124 THEN 1 ELSE 0 END AS srm_flag
    FROM j
    """,
)
def srm_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the first gate any A/B readout
    must pass (a biased assignment invalidates every downstream
    stat): χ² goodness-of-fit of the two arm sizes against the
    designed 50/50 split, which for two cells collapses to
    (n_a−n_b)²/(n_a+n_b); exact integer counts, one float division,
    flagged against the χ²₁ 95% critical value pinned as a double
    literal. Distinct-user counts, not event counts — SRM is about
    ASSIGNMENT."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    arms = (
        T(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 2).cast("long").alias("arm"))
        .agg(F.countDistinct("user_id").cast("long").alias("n"))
    )
    a = arms.filter("arm = 0").select(F.col("n").alias("na"))
    b = arms.filter("arm = 1").select(F.col("n").alias("nb"))
    j = a.crossJoin(F.broadcast(b))
    chi2 = (F.col("na") - F.col("nb")).cast("double") * (
        F.col("na") - F.col("nb")
    ) / (F.col("na") + F.col("nb"))
    return j.select(
        "na",
        "nb",
        (F.floor(chi2 * 1e6 + 0.5) / 1e6).alias("chi2_q"),
        F.when(chi2 > 3.841458820694124, 1).otherwise(0).alias("srm_flag"),
    )


@_promoted(
    "jackknife_ratio_variance",
    """
    WITH per_bucket AS (
      SELECT CAST(user_id % 20 AS BIGINT) AS bucket,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(cents) AS BIGINT) AS tc,
             CAST(sum(n) AS BIGINT) AS tn,
             CAST(count(*) AS BIGINT) AS b
      FROM per_bucket
    ),
    loo AS (
      SELECT p.bucket, tot.b, tot.tc, tot.tn,
             CAST(floor(CAST(tot.tc - p.cents AS DOUBLE)
                        / (tot.tn - p.n) * 1e9 + 0.5) AS BIGINT) AS ti
      FROM per_bucket p CROSS JOIN tot
    ),
    jk AS (
      SELECT b, tc, tn,
             CAST(sum(ti) AS DOUBLE) AS s1,
             CAST(sum(CAST(ti AS HUGEINT) * ti) AS DOUBLE) AS s2
      FROM loo GROUP BY b, tc, tn
    )
    SELECT b AS n_buckets,
           floor(CAST(tc AS DOUBLE) / tn * 1e6 + 0.5) / 1e6 AS ratio_q,
           floor((b - 1.0) / b * (s2 - s1 * s1 / b) / 1e18 * 1e9 + 0.5) / 1e9
             AS jk_variance_q,
           floor(sqrt((b - 1.0) / b * (s2 - s1 * s1 / b) / 1e18) * 1e6 + 0.5)
             / 1e6 AS jk_se_q
    FROM jk
    """,
)
def jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife (leave-one-bucket-out) variance of a ratio metric —
    how experimentation platforms get honest CIs for revenue-per-
    event-style metrics, where the naive per-row variance is wrong
    because both numerator and denominator are random: users hash
    into 20 buckets, each pseudo-estimate drops one bucket's exact
    INTEGER (Σcents, n) totals, and Var_jk = (b−1)/b · Σ(θᵢ−θ̄)².
    The only floats are the b=20 leave-one-out ratios — a
    bucket-level frame, bounded by design — combined in one
    fixed-order expression; variance quantized at 1e-9 (it lives
    near zero), point estimate and SE at 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    per_bucket = (
        T(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 20).cast("long").alias("bucket"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    tot = per_bucket.agg(
        F.sum("cents").cast("long").alias("tc"),
        F.sum("n").cast("long").alias("tn"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    # pseudo-estimates are QUANTIZED to integer nano-units before
    # summation — a sum of 20 doubles is summation-order-dependent
    # across engines (caught live by the sf0.01 gate: 1-ulp variance
    # drift); integer sums are order-free, and both engines then run
    # the identical uncentered-variance expression on exact inputs
    ti = F.floor(
        (F.col("tc") - F.col("cents")).cast("double")
        / (F.col("tn") - F.col("n"))
        * 1e9
        + 0.5
    ).cast("long")
    loo = per_bucket.crossJoin(F.broadcast(tot)).select("b", "tc", "tn", ti.alias("ti"))
    dec = "decimal(19,0)"
    stats = loo.groupBy("b", "tc", "tn").agg(
        F.sum("ti").cast("double").alias("s1"),
        F.sum(F.col("ti").cast(dec) * F.col("ti").cast(dec))
        .cast("double")
        .alias("s2"),
    )
    b = F.col("b")
    theta = F.col("tc").cast("double") / F.col("tn")
    ss = (F.col("s2") - F.col("s1") * F.col("s1") / b) / 1e18
    return stats.select(
        b.alias("n_buckets"),
        (F.floor(theta * 1e6 + 0.5) / 1e6).alias("ratio_q"),
        (F.floor((b - 1.0) / b * ss * 1e9 + 0.5) / 1e9).alias("jk_variance_q"),
        (F.floor(F.sqrt((b - 1.0) / b * ss) * 1e6 + 0.5) / 1e6).alias("jk_se_q"),
    )


@_promoted(
    "stratified_ate_events",
    """
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) + INTERVAL 14 DAY AS cutoff FROM events
    ),
    per_user AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(sum(CASE WHEN CAST(ts AS DATE) < bounds.cutoff
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS score,
             CAST(sum(CASE WHEN CAST(ts AS DATE) >= bounds.cutoff
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events CROSS JOIN bounds
      GROUP BY user_id
    ),
    strat AS (
      SELECT arm, y,
             CAST(ntile(5) OVER (ORDER BY score, user_id) AS BIGINT)
               AS stratum
      FROM per_user
    ),
    cells AS (
      SELECT stratum, arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS sy
      FROM strat GROUP BY 1, 2
    )
    SELECT a.stratum, a.n AS n_treat, b.n AS n_ctrl,
           floor((CAST(a.sy AS DOUBLE) / a.n - CAST(b.sy AS DOUBLE) / b.n)
                 * 1e6 + 0.5) / 1e6 AS diff_q,
           floor((CAST(a.sy AS DOUBLE) / a.n - CAST(b.sy AS DOUBLE) / b.n)
                 * (a.n + b.n) * 1e6 + 0.5) / 1e6 AS weighted_contrib_q
    FROM cells a JOIN cells b
      ON b.stratum = a.stratum AND a.arm = 1 AND b.arm = 0
    ORDER BY a.stratum
    """,
)
def stratified_ate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-stratified treatment-effect estimate — the
    quintile-stratification design observational studies use when
    randomization can't be trusted: users rank into 5 strata by
    their pre-period score via operators/windows.py::ntile_scalable
    (proven bit-identical to SQL ntile — the oracle uses the
    native window), then each stratum contributes its own
    treat-minus-control mean difference and size-weighted term.
    Integer cents throughout; the per-stratum differences are the
    only floats, fixed op order, floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.operators.windows import ntile_scalable
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = e.agg(F.date_add(F.min("d"), 14).alias("cutoff"))
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            (F.col("user_id") % 2).cast("long").alias("arm"),
            F.sum(F.when(F.col("d") < F.col("cutoff"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("score"),
            F.sum(
                F.when(F.col("d") >= F.col("cutoff"), F.col("cents")).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    strat = ntile_scalable(
        per_user, [F.asc("score"), F.asc("user_id")], n=5, name="stratum"
    )
    cells = strat.groupBy("stratum", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
    )
    a = cells.filter("arm = 1").select(
        "stratum", F.col("n").alias("n_treat"), F.col("sy").alias("sy1")
    )
    b = cells.filter("arm = 0").select(
        "stratum", F.col("n").alias("n_ctrl"), F.col("sy").alias("sy0")
    )
    j = a.join(b, "stratum")
    diff = F.col("sy1").cast("double") / F.col("n_treat") - F.col("sy0").cast(
        "double"
    ) / F.col("n_ctrl")
    return j.select(
        "stratum",
        "n_treat",
        "n_ctrl",
        (F.floor(diff * 1e6 + 0.5) / 1e6).alias("diff_q"),
        (F.floor(diff * (F.col("n_treat") + F.col("n_ctrl")) * 1e6 + 0.5) / 1e6).alias(
            "weighted_contrib_q"
        ),
    ).orderBy("stratum")


@_promoted(
    "travel_distance_users",
    """
    WITH pts AS (
      SELECT user_id, ts, event_id,
             (event_id * 48271) % 100000 AS x,
             (event_id * 69621) % 100000 AS y
      FROM events
    ),
    steps AS (
      SELECT user_id,
             lag(x) OVER w AS px, lag(y) OVER w AS py, x, y
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    lens AS (
      SELECT user_id,
             CAST(floor(sqrt(CAST((x - px) * (x - px)
                                  + (y - py) * (y - py) AS DOUBLE))
                        * 1000 + 0.5) AS BIGINT) AS step_milli
      FROM steps WHERE px IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_steps,
           CAST(sum(step_milli) AS BIGINT) AS path_milli,
           CAST(max(step_milli) AS BIGINT) AS longest_step_milli
    FROM lens GROUP BY user_id
    ORDER BY path_milli DESC, user_id ASC LIMIT 20
    """,
)
def travel_distance_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory path length per user — the telematics/mobility
    aggregate: each event gets a deterministic point on the integer
    plane, consecutive points (per-user hash-partitioned windows,
    (ts, event_id) total order) yield step lengths, and each step is
    QUANTIZED to integer milli-units BEFORE the per-user sum — sqrt
    of an exact integer is correctly rounded and identical on both
    engines, but a float SUM of steps would be order-dependent (the
    jackknife lesson, applied). Top-20 longest paths, with the
    longest single hop as the outlier tell."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    pts = T(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("event_id") * 48271) % 100000).alias("x"),
        ((F.col("event_id") * 69621) % 100000).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = pts.select(
        "user_id",
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
        "x",
        "y",
    ).filter(F.col("px").isNotNull())
    d2 = (F.col("x") - F.col("px")) * (F.col("x") - F.col("px")) + (
        F.col("y") - F.col("py")
    ) * (F.col("y") - F.col("py"))
    step = F.floor(F.sqrt(d2.cast("double")) * 1000 + 0.5).cast("long")
    return (
        steps.select("user_id", step.alias("step_milli"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_steps"),
            F.sum("step_milli").cast("long").alias("path_milli"),
            F.max("step_milli").cast("long").alias("longest_step_milli"),
        )
        .orderBy(F.desc("path_milli"), F.asc("user_id"))
        .limit(20)
    )


@_promoted(
    "budget_pacing_daily",
    """
    WITH daily AS (
      SELECT date_trunc('month', CAST(ts AS DATE)) AS mon,
             CAST(ts AS DATE) AS d,
             CAST(EXTRACT(day FROM CAST(ts AS DATE)) AS BIGINT) AS dom,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2, 3
    ),
    mtd AS (
      SELECT a.mon, a.d, a.dom, a.cents,
             CAST(sum(b.cents) AS BIGINT) AS mtd_cents
      FROM daily a JOIN daily b ON b.mon = a.mon AND b.d <= a.d
      GROUP BY a.mon, a.d, a.dom, a.cents
    ),
    month_tot AS (
      SELECT mon,
             CAST(sum(cents) AS BIGINT) AS month_cents,
             CAST(max(dom) AS BIGINT) AS days_in_month
      FROM daily GROUP BY mon
    )
    SELECT m.d, m.mtd_cents,
           floor(CAST(m.mtd_cents AS DOUBLE) * t.days_in_month
                 / (CAST(t.month_cents AS DOUBLE) * m.dom)
                 * 1e6 + 0.5) / 1e6 AS pace_index_q,
           CASE WHEN m.mtd_cents * t.days_in_month
                     > 11 * t.month_cents * m.dom // 10
                THEN 1 ELSE 0 END AS overpacing
    FROM mtd m JOIN month_tot t ON t.mon = m.mon
    ORDER BY m.d
    """,
)
def budget_pacing_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget pacing — the ad-tech/finops daily control chart:
    month-to-date spend vs the linear target (month total × elapsed
    fraction), pace index = MTD·days/(total·dom), with the
    overpacing flag (>110%) kept as an INTEGER cross-multiplication
    — never float-vs-float at the decision boundary, the same
    discipline as burst detection. Cumulative MTD rides a
    month-scoped calendar self-join on the bounded day frame; one
    join to the per-month totals."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    daily = (
        T(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("month", F.to_date("ts")).alias("mon"),
            F.to_date("ts").alias("d"),
            F.dayofmonth(F.to_date("ts")).cast("long").alias("dom"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    b = daily.select(
        F.col("mon").alias("bmon"), F.col("d").alias("bd"), F.col("cents").alias("bc")
    )
    mtd = (
        daily.join(b, (F.col("bmon") == F.col("mon")) & (F.col("bd") <= F.col("d")))
        .groupBy("mon", "d", "dom", "cents")
        .agg(F.sum("bc").cast("long").alias("mtd_cents"))
    )
    month_tot = daily.groupBy("mon").agg(
        F.sum("cents").cast("long").alias("month_cents"),
        F.max("dom").cast("long").alias("days_in_month"),
    )
    j = mtd.join(F.broadcast(month_tot), "mon")
    pace = (
        F.col("mtd_cents").cast("double")
        * F.col("days_in_month")
        / (F.col("month_cents").cast("double") * F.col("dom"))
    )
    over = F.when(
        F.col("mtd_cents") * F.col("days_in_month")
        > F.expr("11 * month_cents * dom div 10"),
        1,
    ).otherwise(0)
    return j.select(
        "d",
        "mtd_cents",
        (F.floor(pace * 1e6 + 0.5) / 1e6).alias("pace_index_q"),
        over.alias("overpacing"),
    ).orderBy("d")


@_promoted(
    "churn_threshold_ladder",
    """
    WITH last_seen AS (
      SELECT user_id, max(CAST(ts AS DATE)) AS last_d
      FROM events GROUP BY 1
    ),
    horizon AS (SELECT max(CAST(ts AS DATE)) AS h FROM events),
    inact AS (
      SELECT user_id,
             CAST(datediff('day', last_d, horizon.h) AS BIGINT) AS idle_days
      FROM last_seen CROSS JOIN horizon
    ),
    ladder AS (SELECT unnest([7, 14, 21, 28]) AS k)
    SELECT ladder.k AS threshold_days,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN idle_days >= ladder.k THEN 1 ELSE 0 END)
                AS BIGINT) AS n_churned,
           floor(CAST(sum(CASE WHEN idle_days >= ladder.k THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6
             AS churn_rate_q
    FROM inact CROSS JOIN ladder
    GROUP BY ladder.k ORDER BY ladder.k
    """,
)
def churn_threshold_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-definition sensitivity — the product-analytics exercise
    behind every 'what even is churn' meeting: churn rate at
    7/14/21/28-day inactivity thresholds from one pass of per-user
    last-activity dates against the corpus horizon; the ladder is a
    4-row broadcast and every count is exact, so the row reds if
    EITHER engine misassigns a single boundary user (idle == k is
    churned — the >= convention, pinned here)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    last_seen = e.groupBy("user_id").agg(F.max("d").alias("last_d"))
    horizon = e.agg(F.max("d").alias("h"))
    inact = last_seen.crossJoin(F.broadcast(horizon)).select(
        "user_id", F.datediff("h", "last_d").cast("long").alias("idle_days")
    )
    ladder = local_frame(spark, [(7,), (14,), (21,), (28,)], "k long")
    churned = F.sum(
        F.when(F.col("idle_days") >= F.col("k"), 1).otherwise(0)
    ).cast("long")
    return (
        inact.crossJoin(F.broadcast(ladder))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            churned.alias("n_churned"),
        )
        .select(
            F.col("k").alias("threshold_days"),
            "n_users",
            "n_churned",
            (
                F.floor(
                    F.col("n_churned").cast("double") / F.col("n_users") * 1e6 + 0.5
                )
                / 1e6
            ).alias("churn_rate_q"),
        )
        .orderBy("threshold_days")
    )


@_promoted(
    "type_token_ratio_sources",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    clean AS (SELECT source, w FROM tok WHERE w <> ''),
    s AS (
      SELECT source,
             CAST(sum(cnt) AS BIGINT) AS tokens,
             CAST(count(*) AS BIGINT) AS types,
             CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax
      FROM (
        SELECT source, w, count(*) AS cnt FROM clean GROUP BY 1, 2
      ) GROUP BY source
    )
    SELECT source, tokens, types, hapax,
           floor(CAST(types AS DOUBLE) / tokens * 1e6 + 0.5) / 1e6 AS ttr_q,
           floor(CAST(hapax AS DOUBLE) / types * 1e6 + 0.5) / 1e6
             AS hapax_ratio_q
    FROM s ORDER BY source
    """,
)
def type_token_ratio_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per source — type-token ratio and hapax
    (frequency-1) share, the corpus-quality tells that separate
    natural text from boilerplate and template spam (TTR collapses
    on templated corpora; hapax share collapses on token-recycled
    ones). Complements heaps_law_vocab_growth's curve with the
    per-source point stats. One (source, word) aggregate carries all
    three counts; exact integers, two quantized ratios (tokens =
    Σcnt over word cells, NOT the cell count — the off-by-a-level
    the staged gate caught in this query's first draft)."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    tok = (
        T(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    cells = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("cnt"))
    s = cells.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("tokens"),
        F.count(F.lit(1)).cast("long").alias("types"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
    )
    return s.select(
        "source",
        "tokens",
        "types",
        "hapax",
        (F.floor(F.col("types").cast("double") / F.col("tokens") * 1e6 + 0.5) / 1e6).alias(
            "ttr_q"
        ),
        (F.floor(F.col("hapax").cast("double") / F.col("types") * 1e6 + 0.5) / 1e6).alias(
            "hapax_ratio_q"
        ),
    ).orderBy("source")


@_promoted(
    "open_orders_per_day",
    """
    WITH spans AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS opened,
             max(CAST(l.l_shipdate AS DATE)) AS closed
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    deltas AS (
      SELECT opened AS d, CAST(count(*) AS BIGINT) AS delta FROM spans
      GROUP BY 1
      UNION ALL
      SELECT CAST(closed + INTERVAL 1 DAY AS DATE),
             CAST(-count(*) AS BIGINT) FROM spans GROUP BY 1
    ),
    net AS (
      SELECT d, CAST(sum(delta) AS BIGINT) AS delta FROM deltas GROUP BY d
    ),
    sweep AS (
      SELECT d, sum(delta) OVER (ORDER BY d) AS open_orders
      FROM net
    )
    SELECT d, CAST(open_orders AS BIGINT) AS open_orders
    FROM sweep
    ORDER BY open_orders DESC, d ASC LIMIT 20
    """,
)
def open_orders_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting — open orders in flight per day,
    the backlog/WIP metric every ops dashboard carries: each order is
    an interval [orderdate, last shipdate], counted by the classic
    BOUNDARY SWEEP (+1 at open, −1 the day after close, prefix-sum
    of net deltas) instead of exploding order×days — O(orders) rows
    reduced to O(distinct days), then one pass of
    operators/windows.py::prefix_sum (the oracle uses a plain
    windowed cumulative over the same exact integers). Top-20
    busiest days."""
    from dbt_lakehouse_aws_spark.operators.windows import prefix_sum
    from dbt_lakehouse_aws_spark.standard_queries import T

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_orderdate").cast("date").alias("opened")
    )
    l = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_shipdate").cast("date").alias("ship")
    )
    spans = o.join(l, "ok").groupBy("ok", "opened").agg(F.max("ship").alias("closed"))
    starts = spans.groupBy(F.col("opened").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("delta")
    )
    ends = spans.groupBy(F.date_add("closed", 1).alias("d")).agg(
        (-F.count(F.lit(1))).cast("long").alias("delta")
    )
    net = starts.unionAll(ends).groupBy("d").agg(
        F.sum("delta").cast("long").alias("delta")
    )
    sweep = prefix_sum(net, [F.asc("d")], "delta", name="open_orders")
    return (
        sweep.select("d", F.col("open_orders").cast("long").alias("open_orders"))
        .orderBy(F.desc("open_orders"), F.asc("d"))
        .limit(20)
    )


@_promoted(
    "acid_drop_column_events",
    """
    WITH base AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    )
    SELECT event_type, n, cents,
           CAST(3 AS BIGINT) AS cols_before,
           CAST(2 AS BIGINT) AS cols_after,
           CAST(1 AS BIGINT) AS timetravel_sees_dropped
    FROM base ORDER BY event_type
    """,
)
def acid_drop_column_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE DROP COLUMN under the driver gate
    (sources/acid.py::drop_column): load (event_type, cents,
    event_id) into an ACID table, drop the cents column — a
    metadata-only commit, files untouched — then verify (a) current
    reads carry 2 columns and the full row count per type, (b) time
    travel to the pre-drop version still reads the column. The
    oracle pins the per-type counts plus the three structural
    invariants as constants."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.standard_queries import T

    base = T(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    )
    t = AcidTable(
        spark, tempfile.mkdtemp(prefix=f"dropcol_{uuid.uuid4().hex[:8]}_") + "/t"
    )
    t.write(base)
    v0 = t.latest_version()
    cols_before = len(t.read().columns)
    files_before = list(t.snapshot().files)
    t.drop_column("cents")
    assert list(t.snapshot().files) == files_before, "drop must be metadata-only"
    cols_after = len(t.read().columns)
    sees = 1 if "cents" in t.read(version=v0).columns else 0
    return (
        t.read(version=v0)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "event_type",
            "n",
            "cents",
            F.lit(cols_before).cast("long").alias("cols_before"),
            F.lit(cols_after).cast("long").alias("cols_after"),
            F.lit(sees).cast("long").alias("timetravel_sees_dropped"),
        )
        .orderBy("event_type")
    )


@_promoted(
    "duplicate_payment_pairs",
    """
    WITH pay AS (
      SELECT user_id, event_id,
             CAST(round(value) AS BIGINT) AS dollars,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.user_id,
           CAST(count(*) AS BIGINT) AS n_dup_pairs,
           CAST(min(b.sec - a.sec) AS BIGINT) AS closest_gap_s,
           CAST(sum(a.dollars) AS BIGINT) AS exposed_dollars
    FROM pay a JOIN pay b
      ON b.user_id = a.user_id AND b.dollars = a.dollars
     AND b.event_id > a.event_id
     AND b.sec - a.sec BETWEEN 0 AND 86400
    GROUP BY a.user_id
    ORDER BY n_dup_pairs DESC, a.user_id ASC LIMIT 20
    """,
)
def duplicate_payment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection — the double-charge screen every
    payments team runs: purchase pairs on the SAME user and SAME
    exact amount within 5 minutes, found by an equi-join on
    (user, cents) — the selective keys do the work; the time window
    is a residual predicate, so there is no range-join blowup and
    the join shuffles once on keys whose groups are small by nature
    (few same-amount purchases per user). event_id ordering
    deduplicates the pair direction; integer cents and epoch seconds
    throughout. Top-20 users by pair count with closest gap and
    exposed amount."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    pay = T(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        "event_id",
        F.round(F.col("value")).cast("long").alias("dollars"),
        F.unix_timestamp("ts").alias("sec"),
    )
    b = pay.select(
        F.col("user_id").alias("u2"),
        F.col("event_id").alias("e2"),
        F.col("dollars").alias("d2"),
        F.col("sec").alias("s2"),
    )
    pairs = pay.join(
        b,
        (F.col("u2") == F.col("user_id"))
        & (F.col("d2") == F.col("dollars"))
        & (F.col("e2") > F.col("event_id"))
        & (F.col("s2") - F.col("sec") >= 0)
        & (F.col("s2") - F.col("sec") <= 86400),
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
            F.min(F.col("s2") - F.col("sec")).cast("long").alias("closest_gap_s"),
            F.sum("dollars").cast("long").alias("exposed_dollars"),
        )
        .orderBy(F.desc("n_dup_pairs"), F.asc("user_id"))
        .limit(20)
    )


@_promoted(
    "stl_anomaly_days",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    ma AS (
      SELECT a.d, a.cents,
             CAST(sum(b.cents) AS BIGINT) AS sum7
      FROM daily a JOIN daily b
        ON b.d BETWEEN a.d - INTERVAL 3 DAY AND a.d + INTERVAL 3 DAY
      GROUP BY a.d, a.cents
      HAVING count(*) = 7
    ),
    season AS (
      SELECT CAST(EXTRACT(dow FROM d) + 1 AS BIGINT) AS wd,
             CAST(sum(7 * cents - sum7) AS BIGINT) AS dsum,
             CAST(count(*) AS BIGINT) AS n
      FROM ma GROUP BY 1
    ),
    resid AS (
      SELECT ma.d,
             CAST(floor((ma.cents - CAST(ma.sum7 AS DOUBLE) / 7
                         - CAST(s.dsum AS DOUBLE) / (7 * s.n)) * 1e6 + 0.5)
                  AS BIGINT) AS r
      FROM ma JOIN season s
        ON s.wd = CAST(EXTRACT(dow FROM ma.d) + 1 AS BIGINT)
    ),
    med AS (
      SELECT CAST(quantile_disc(r, 0.5) AS BIGINT) AS m FROM resid
    ),
    mad AS (
      SELECT m, CAST(quantile_disc(abs(r - m), 0.5) AS BIGINT) AS mad
      FROM resid CROSS JOIN med GROUP BY m
    )
    SELECT resid.d, CAST(resid.r AS DOUBLE) / 1e6 AS residual_q,
           CASE WHEN abs(resid.r - mad.m) > 3 * mad.mad
                THEN 1 ELSE 0 END AS anomaly
    FROM resid CROSS JOIN mad
    WHERE abs(resid.r - mad.m) > 3 * mad.mad
    ORDER BY resid.d
    """,
)
def stl_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly days — the composition a real
    monitoring pipeline runs: STL-lite residuals (the
    stl_lite_daily_events decomposition, quantized to INTEGER
    micro-units) gated by the robust median ± 3·MAD rule, both
    computed as exact discrete quantiles of integers — so the
    anomaly boundary is an integer comparison, never float-vs-float
    (the burst-detection discipline, with a robust location/scale
    instead of a trailing mean). Returns only the flagged days;
    flagging is calendar-bounded day-frame work end to end."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    daily = T(spark, sf_dir, "events").groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    b = daily.select(F.col("d").alias("bd"), F.col("cents").alias("bcents"))
    ma = (
        daily.join(
            b,
            (F.col("bd") >= F.date_sub(F.col("d"), 3))
            & (F.col("bd") <= F.date_add(F.col("d"), 3)),
        )
        .groupBy("d", "cents")
        .agg(
            F.sum("bcents").cast("long").alias("sum7"),
            F.count(F.lit(1)).cast("long").alias("n7"),
        )
        .filter(F.col("n7") == 7)
    )
    season = ma.groupBy(F.dayofweek("d").cast("long").alias("wd")).agg(
        F.sum(7 * F.col("cents") - F.col("sum7")).cast("long").alias("dsum"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    resid_val = (
        F.col("cents")
        - F.col("sum7").cast("double") / 7
        - F.col("dsum").cast("double") / (7 * F.col("n"))
    )
    resid = ma.join(
        F.broadcast(season), F.dayofweek(ma["d"]).cast("long") == F.col("wd")
    ).select("d", F.floor(resid_val * 1e6 + 0.5).cast("long").alias("r"))
    med = resid.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY r)")
        .cast("long")
        .alias("m")
    )
    mad = (
        resid.crossJoin(F.broadcast(med))
        .select((F.abs(F.col("r") - F.col("m"))).alias("ar"), "m")
        .groupBy("m")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ar)")
            .cast("long")
            .alias("mad")
        )
    )
    return (
        resid.crossJoin(F.broadcast(mad))
        .filter(F.abs(F.col("r") - F.col("m")) > 3 * F.col("mad"))
        .select(
            "d",
            (F.col("r").cast("double") / 1e6).alias("residual_q"),
            F.lit(1).alias("anomaly"),
        )
        .orderBy("d")
    )


@_promoted(
    "scd3_user_prior_state",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS current_type,
           coalesce(prev_type, 'n/a') AS prior_type,
           CAST(event_id AS BIGINT) AS current_event_id
    FROM seq WHERE rn = 1 AND user_id % 20 = 0
    ORDER BY user_id
    """,
)
def scd3_user_prior_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 3 — the 'current + previous value' dimension shape
    (Type 2 keeps full history rows, Type 3 keeps ONE prior column —
    the cheap answer when only the last transition matters): per
    user, the latest event type and the type immediately before it,
    from one pass of per-user windows (lag for the prior, reverse
    row_number for the latest — both hash-partitioned). The 'n/a'
    sentinel pins single-event users. Key-sliced output."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrev = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    seq = T(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.row_number().over(wrev).alias("rn"),
    )
    return (
        seq.filter((F.col("rn") == 1) & (F.col("user_id") % 20 == 0))
        .select(
            "user_id",
            F.col("event_type").alias("current_type"),
            F.coalesce("prev_type", F.lit("n/a")).alias("prior_type"),
            F.col("event_id").cast("long").alias("current_event_id"),
        )
        .orderBy("user_id")
    )


@_promoted(
    "bitemporal_asof_events",
    """
    WITH horizon AS (
      SELECT min(CAST(ts AS DATE)) + INTERVAL 20 DAY AS v FROM events
    ),
    known_v1 AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_id % 2 = 0
    ),
    state_v1 AS (
      SELECT user_id, event_type AS s1 FROM (
        SELECT k.user_id, k.event_type,
               row_number() OVER (PARTITION BY k.user_id
                                  ORDER BY k.ts DESC, k.event_id DESC) AS rn
        FROM known_v1 k CROSS JOIN horizon
        WHERE CAST(k.ts AS DATE) <= horizon.v
      ) WHERE rn = 1
    ),
    state_now AS (
      SELECT user_id, event_type AS s2 FROM (
        SELECT e.user_id, e.event_type,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM events e CROSS JOIN horizon
        WHERE CAST(e.ts AS DATE) <= horizon.v
      ) WHERE rn = 1
    )
    SELECT coalesce(a.s1, 'unknown') AS state_at_v1,
           b.s2 AS state_now,
           CAST(count(*) AS BIGINT) AS n_users
    FROM state_now b LEFT JOIN state_v1 a ON a.user_id = b.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def bitemporal_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of — the two-clock question insurance/finance
    marts answer: for one VALID time V (day 20), what was each
    user's state AS WE KNEW IT at transaction version 1 (only the
    even-id events had arrived) vs AS WE KNOW NOW (everything,
    including late arrivals) — materialized through the ACID layer:
    v1 is a real commit, the late events a second commit, and the
    two knowledge states are TIME-TRAVEL reads of the same table;
    the correction matrix (state@v1 × state@now user counts, with
    'unknown' for users v1 hadn't seen at all) is what a reserving
    actuary calls development. The oracle replays both knowledge
    states relationally from the raw events."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    t = AcidTable(
        spark, tempfile.mkdtemp(prefix=f"bt_{uuid.uuid4().hex[:8]}_") + "/t"
    )
    t.write(e.filter(F.col("event_id") % 2 == 0))
    v1 = t.latest_version()
    t.write(e.filter(F.col("event_id") % 2 == 1), mode="append")

    horizon = e.agg(F.date_add(F.min(F.to_date("ts")), 20).alias("v"))

    def state_at(df):
        w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        return (
            df.crossJoin(F.broadcast(horizon))
            .filter(F.to_date("ts") <= F.col("v"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type")
        )

    s1 = state_at(t.read(version=v1)).withColumnRenamed("event_type", "s1")
    s2 = state_at(t.read()).withColumnRenamed("event_type", "s2")
    return (
        s2.join(s1, "user_id", "left")
        .groupBy(
            F.coalesce("s1", F.lit("unknown")).alias("state_at_v1"),
            F.col("s2").alias("state_now"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("state_at_v1", "state_now")
    )


@_promoted(
    "eb_shrunk_return_rates",
    """
    WITH per_part AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem GROUP BY 1
    ),
    eligible AS (
      SELECT *, CAST(floor(CAST(k AS DOUBLE) / n * 1e6 + 0.5) AS BIGINT)
                  AS rq
      FROM per_part WHERE n >= 5
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS c,
             CAST(sum(rq) AS BIGINT) AS s1,
             CAST(sum(rq * rq) AS BIGINT) AS s2
      FROM eligible
    ),
    prior AS (
      SELECT CAST(s1 AS DOUBLE) / c / 1e6 AS m,
             (CAST(s2 AS DOUBLE) / c - (CAST(s1 AS DOUBLE) / c)
               * (CAST(s1 AS DOUBLE) / c)) / 1e12 AS v
      FROM mom
    ),
    ab AS (
      SELECT m, v,
             m * (m * (1 - m) / v - 1) AS alpha,
             (1 - m) * (m * (1 - m) / v - 1) AS beta
      FROM prior
    ),
    scored AS (
      SELECT e.l_partkey, e.n, e.k,
             CAST(floor((e.k + ab.alpha) / (e.n + ab.alpha + ab.beta)
                        * 1e6 + 0.5) AS BIGINT) AS shrunk_scaled
      FROM eligible e CROSS JOIN ab
    )
    SELECT l_partkey, n, k,
           CAST(shrunk_scaled AS DOUBLE) / 1e6 AS shrunk_rate_q
    FROM scored
    ORDER BY shrunk_scaled DESC, l_partkey ASC LIMIT 20
    """,
)
def eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-part return rates — the
    small-sample leaderboard fix (a 2/2 part must not outrank a
    48/100 one): a Beta prior fitted by method of moments over the
    population of per-part rates, each rate QUANTIZED to integer
    millionths before the moment sums (order-free — the jackknife
    discipline), then every part's rate shrunk to
    (k+α)/(n+α+β). Ranking is by the quantized shrunk rate with key
    tiebreak, so the top-20 is float-drift-proof; parts under 5
    lineitems are excluded from the prior fit and the board."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    per_part = T(spark, sf_dir, "lineitem").groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    eligible = per_part.filter(F.col("n") >= 5).withColumn(
        "rq",
        F.floor(F.col("k").cast("double") / F.col("n") * 1e6 + 0.5).cast("long"),
    )
    mom = eligible.agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("rq").cast("long").alias("s1"),
        F.sum(F.col("rq") * F.col("rq")).cast("long").alias("s2"),
    )
    c = F.col("c")
    m = F.col("s1").cast("double") / c / 1e6
    v = (
        F.col("s2").cast("double") / c
        - (F.col("s1").cast("double") / c) * (F.col("s1").cast("double") / c)
    ) / 1e12
    ab = mom.select(
        (m * (m * (1 - m) / v - 1)).alias("alpha"),
        ((1 - m) * (m * (1 - m) / v - 1)).alias("beta"),
    )
    shrunk = F.floor(
        (F.col("k") + F.col("alpha"))
        / (F.col("n") + F.col("alpha") + F.col("beta"))
        * 1e6
        + 0.5
    ).cast("long")
    return (
        eligible.crossJoin(F.broadcast(ab))
        .select("l_partkey", "n", "k", shrunk.alias("shrunk_scaled"))
        .orderBy(F.desc("shrunk_scaled"), F.asc("l_partkey"))
        .limit(20)
        .select(
            "l_partkey",
            "n",
            "k",
            (F.col("shrunk_scaled").cast("double") / 1e6).alias("shrunk_rate_q"),
        )
    )


def _minhash_eval_oracle() -> str:
    """Compose the portable MinHash-LSH replay (est ≥ 0.5) with the
    exact 3-shingle Jaccard ground truth into one WITH chain and
    reduce to precision/recall/F1 — reusing standard_queries'
    builders so the eval can never drift from the audited pipelines."""
    from dbt_lakehouse_aws_spark.llm_oracles import _minhash_lsh_oracle

    full = _minhash_lsh_oracle(est_threshold=0.5)
    cut = full.rindex("    SELECT a.doc_id AS doc_a")
    ctes, est_select = full[:cut], full[cut:]
    return f"""{ctes},
    est AS ({est_select}),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i) >= 0.5
    ),
    cm AS (
      SELECT CAST(sum(CASE WHEN e.doc_a IS NOT NULL AND x.doc_a IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN x.doc_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS fp,
             CAST(sum(CASE WHEN e.doc_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS fn
      FROM est e FULL JOIN exact x
        ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
    )
    SELECT tp, fp, fn,
           floor(CAST(tp AS DOUBLE) / nullif(tp + fp, 0) * 1e6 + 0.5) / 1e6
             AS precision_q,
           floor(CAST(tp AS DOUBLE) / nullif(tp + fn, 0) * 1e6 + 0.5) / 1e6
             AS recall_q
    FROM cm
    """


@_promoted("minhash_eval_vs_exact", _minhash_eval_oracle())
def minhash_eval_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation — MinHash(32)+LSH estimated
    near-dup pairs (est ≥ 0.5) scored against the EXACT 3-shingle
    Jaccard ground truth, both engine pipelines the audited
    production ones (portable-hash mode): the confusion counts and
    precision/recall every dedup rollout reports before trusting a
    sketch at 100 TB, where exact Jaccard is only affordable on an
    audit sample exactly like this. The oracle composes the same two
    replays from the shared SQL builders, so a drift in EITHER
    pipeline reds this row."""
    from dbt_lakehouse_aws_spark.llmops.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, n=3, num_hashes=32, portable=True)
    est = lsh_candidate_pairs(sigs, num_bands=8, est_threshold=0.5).select(
        "doc_a", "doc_b"
    )
    exact = ngram_jaccard_pairs(d, n=3, threshold=0.5).select(
        F.col("doc_a").alias("xa"), F.col("doc_b").alias("xb")
    )
    j = est.join(
        exact, (F.col("xa") == F.col("doc_a")) & (F.col("xb") == F.col("doc_b")), "full"
    )
    cm = j.agg(
        F.sum(
            F.when(F.col("doc_a").isNotNull() & F.col("xa").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("xa").isNull(), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(F.col("doc_a").isNull(), 1).otherwise(0)).cast("long").alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    return cm.select(
        "tp",
        "fp",
        "fn",
        q6(tp.cast("double") / F.nullif(tp + fp, F.lit(0))).alias("precision_q"),
        q6(tp.cast("double") / F.nullif(tp + fn, F.lit(0))).alias("recall_q"),
    )


@_promoted(
    "peak_event_rate_users",
    """
    WITH x AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             event_id
      FROM events
    ),
    windowed AS (
      SELECT user_id,
             CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN CURRENT ROW AND 3600 FOLLOWING
             ) AS BIGINT) AS burst_n,
             sec
      FROM x
    )
    SELECT user_id,
           CAST(max(burst_n) AS BIGINT) AS peak_events_per_hour,
           CAST(min(CASE WHEN burst_n = mx THEN sec END) AS BIGINT)
             AS first_peak_start_sec
    FROM (SELECT *, max(burst_n) OVER (PARTITION BY user_id) AS mx
          FROM windowed)
    GROUP BY user_id
    ORDER BY peak_events_per_hour DESC, user_id ASC LIMIT 20
    """,
)
def peak_event_rate_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak sliding-window rate per user — the rate-limiter /
    abuse-detection audit: the maximum number of events any user
    fits in ANY trailing-anchored 1-hour window, computed with a
    RANGE frame over epoch seconds (every event anchors a window;
    RANGE — not ROWS — so same-second events all count; the classic
    two-pointer sweep expressed declaratively). Windows are per-user
    hash partitions; epoch seconds floored identically on both
    engines. Top-20 users with when their first peak started."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    x = T(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_id"
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(0, 3600)
    )
    windowed = x.select(
        "user_id", "sec", F.count(F.lit(1)).over(wr).cast("long").alias("burst_n")
    )
    wmax = Window.partitionBy("user_id")
    flagged = windowed.withColumn("mx", F.max("burst_n").over(wmax))
    return (
        flagged.groupBy("user_id")
        .agg(
            F.max("burst_n").cast("long").alias("peak_events_per_hour"),
            F.min(F.when(F.col("burst_n") == F.col("mx"), F.col("sec")))
            .cast("long")
            .alias("first_peak_start_sec"),
        )
        .orderBy(F.desc("peak_events_per_hour"), F.asc("user_id"))
        .limit(20)
    )


@_promoted(
    "regression_discontinuity_orders",
    """
    WITH x AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) - 15000000 AS r,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE abs(CAST(round(o_totalprice * 100) AS BIGINT) - 15000000)
            <= 5000000
    ),
    s AS (
      SELECT CASE WHEN r >= 0 THEN 1 ELSE 0 END AS side,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE) AS sxx,
             CAST(sum(r * y) AS BIGINT) AS sxy
      FROM x GROUP BY 1
    ),
    fit AS (
      SELECT side, n,
             (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (n * sxx - CAST(sx AS DOUBLE) * sx) AS slope,
             CAST(sy AS DOUBLE) / n
               - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (n * sxx - CAST(sx AS DOUBLE) * sx)
                 * (CAST(sx AS DOUBLE) / n) AS intercept_at_cutoff
      FROM s
    )
    SELECT r.n AS n_right, l.n AS n_left,
           floor((r.intercept_at_cutoff - l.intercept_at_cutoff)
                 * 1e6 + 0.5) / 1e6 AS jump_q,
           floor(l.slope * 1e12 + 0.5) / 1e12 AS slope_left_q,
           floor(r.slope * 1e12 + 0.5) / 1e12 AS slope_right_q
    FROM fit r JOIN fit l ON r.side = 1 AND l.side = 0
    """,
)
def regression_discontinuity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression discontinuity — the fourth member of the causal
    family (diff-in-diff, stratified ATE, CUPED): local linear fits
    on each side of the $150k order-value cutoff within a ±$50k
    bandwidth, treatment effect = the jump between the two
    intercepts EVALUATED AT THE CUTOFF (centered running variable r,
    so intercept_at_cutoff = ȳ − b·x̄). Each side is one pass of
    integer sufficient statistics (Σr² rides HUGEINT/DECIMAL); the
    slope/intercept/jump are fixed-order float expressions —
    slopes quantized at 1e-12 (they live near zero per cent),
    the jump at 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    CUT, BW = 15000000, 5000000
    x = (
        T(spark, sf_dir, "orders")
        .select(
            (F.round(F.col("o_totalprice") * 100).cast("long") - CUT).alias("r"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0).alias("y"),
        )
        .filter(F.abs(F.col("r")) <= BW)
    )
    dec = "decimal(19,0)"
    s = x.groupBy(
        F.when(F.col("r") >= 0, 1).otherwise(0).alias("side")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("r").cast(dec) * F.col("r").cast(dec)).cast("double").alias("sxx"),
        F.sum(F.col("r") * F.col("y")).cast("long").alias("sxy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    intercept = F.col("sy").cast("double") / n - slope * (
        F.col("sx").cast("double") / n
    )
    fit = s.select("side", "n", slope.alias("slope"), intercept.alias("icpt"))
    r = fit.filter("side = 1").select(
        F.col("n").alias("n_right"), F.col("slope").alias("sr"), F.col("icpt").alias("ir")
    )
    l = fit.filter("side = 0").select(
        F.col("n").alias("n_left"), F.col("slope").alias("sl"), F.col("icpt").alias("il")
    )
    return r.crossJoin(F.broadcast(l)).select(
        "n_right",
        "n_left",
        (F.floor((F.col("ir") - F.col("il")) * 1e6 + 0.5) / 1e6).alias("jump_q"),
        (F.floor(F.col("sl") * 1e12 + 0.5) / 1e12).alias("slope_left_q"),
        (F.floor(F.col("sr") * 1e12 + 0.5) / 1e12).alias("slope_right_q"),
    )


@_promoted(
    "kpi_driver_decomposition",
    """
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) + INTERVAL 14 DAY AS cutoff FROM events
    ),
    p AS (
      SELECT CASE WHEN CAST(ts AS DATE) < bounds.cutoff THEN 1 ELSE 2 END
               AS period,
             CAST(count(DISTINCT user_id) AS BIGINT) AS users,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events CROSS JOIN bounds
      GROUP BY 1
    ),
    j AS (
      SELECT a.users AS u1, b.users AS u2,
             a.n_events AS e1, b.n_events AS e2,
             a.cents AS c1, b.cents AS c2
      FROM p a JOIN p b ON a.period = 1 AND b.period = 2
    ),
    lm AS (
      SELECT *,
             (c2 - c1) / (ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE)))
               AS lmean
      FROM j
    )
    SELECT c2 - c1 AS delta_cents,
           floor(lmean * ln(CAST(u2 AS DOUBLE) / u1) * 1e6 + 0.5) / 1e6
             AS users_contrib_q,
           floor(lmean * ln((CAST(e2 AS DOUBLE) / u2)
                            / (CAST(e1 AS DOUBLE) / u1)) * 1e6 + 0.5) / 1e6
             AS intensity_contrib_q,
           floor(lmean * ln((CAST(c2 AS DOUBLE) / e2)
                            / (CAST(c1 AS DOUBLE) / e1)) * 1e6 + 0.5) / 1e6
             AS value_contrib_q
    FROM lm
    """,
)
def kpi_driver_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI driver-tree decomposition (LMDI) — the executive 'why did
    revenue move' answer: Δrevenue between the first fortnight and
    the rest splits EXACTLY (the logarithmic-mean Divisia identity —
    contributions sum to the delta by construction, unlike naive
    %-change attribution) across the factor chain revenue = users ×
    events/user × value/event. One grouped pass to six integers; the
    log-mean and three ln-ratio contributions are fixed-order float
    expressions on exact inputs, floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = e.agg(F.date_add(F.min("d"), 14).alias("cutoff"))
    p = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.when(F.col("d") < F.col("cutoff"), 1).otherwise(2).alias("period")
        )
        .agg(
            F.countDistinct("user_id").cast("long").alias("users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    a = p.filter("period = 1").select(
        F.col("users").alias("u1"), F.col("n_events").alias("e1"), F.col("cents").alias("c1")
    )
    b = p.filter("period = 2").select(
        F.col("users").alias("u2"), F.col("n_events").alias("e2"), F.col("cents").alias("c2")
    )
    j = a.crossJoin(F.broadcast(b))
    lmean = (F.col("c2") - F.col("c1")) / (
        F.log(F.col("c2").cast("double")) - F.log(F.col("c1").cast("double"))
    )

    def q6(c):
        return F.floor(c * 1e6 + 0.5) / 1e6

    return j.select(
        (F.col("c2") - F.col("c1")).alias("delta_cents"),
        q6(lmean * F.log(F.col("u2").cast("double") / F.col("u1"))).alias(
            "users_contrib_q"
        ),
        q6(
            lmean
            * F.log(
                (F.col("e2").cast("double") / F.col("u2"))
                / (F.col("e1").cast("double") / F.col("u1"))
            )
        ).alias("intensity_contrib_q"),
        q6(
            lmean
            * F.log(
                (F.col("c2").cast("double") / F.col("e2"))
                / (F.col("c1").cast("double") / F.col("e1"))
            )
        ).alias("value_contrib_q"),
    )


@_promoted(
    "capture_recapture_users",
    """
    WITH s1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(EXTRACT(day FROM ts) AS BIGINT) % 2 = 0
    ),
    s2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(EXTRACT(day FROM ts) AS BIGINT) % 2 = 1
    ),
    c AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
             (SELECT CAST(count(*) AS BIGINT)
              FROM s1 JOIN s2 USING (user_id)) AS m,
             (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
               AS true_n
    )
    SELECT n1, n2, m, true_n,
           floor(((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0) * 1e6 + 0.5)
             / 1e6 AS chapman_estimate_q
    FROM c
    """,
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman) population estimate — the
    mark-recapture device for 'how many distinct entities exist when
    no sample sees them all' (census coverage, dedup-universe
    sizing, bot-population estimates): even-day actives are the
    marked sample, odd-day actives the recapture, N̂ =
    (n1+1)(n2+1)/(m+1) − 1 (Chapman's bias-corrected form). The
    TRUE distinct count rides along so the row doubles as an
    accuracy exhibit; exact integer counts, one fixed-order float
    expression, floor-quantized 1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    e = T(spark, sf_dir, "events").select(
        "user_id", F.dayofmonth("ts").cast("long").alias("dom")
    )
    s1 = e.filter(F.col("dom") % 2 == 0).select("user_id").distinct()
    s2 = e.filter(F.col("dom") % 2 == 1).select("user_id").distinct()
    c = (
        s1.agg(F.count(F.lit(1)).cast("long").alias("n1"))
        .crossJoin(s2.agg(F.count(F.lit(1)).cast("long").alias("n2")))
        .crossJoin(
            s1.join(s2, "user_id").agg(F.count(F.lit(1)).cast("long").alias("m"))
        )
        .crossJoin(e.agg(F.countDistinct("user_id").cast("long").alias("true_n")))
    )
    chapman = (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0) - 1.0
    return c.select(
        "n1",
        "n2",
        "m",
        "true_n",
        (F.floor(chapman * 1e6 + 0.5) / 1e6).alias("chapman_estimate_q"),
    )


@_promoted(
    "transition_latency_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER w AS prev_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(quantile_disc(gap_s, 0.5) AS BIGINT) AS median_gap_s,
           CAST(quantile_disc(gap_s, 0.9) AS BIGINT) AS p90_gap_s
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def transition_latency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition latency matrix — the ops companion to the Markov
    transition counts: median and p90 seconds between each
    consecutive event-type pair (how long after a view does the
    purchase come; which handoffs stall). Gaps are exact integer
    seconds from per-user lag windows; the per-cell quantiles are
    DISCRETE (actual data values, engine-identical); the matrix is
    vocabulary-bounded — |types|² cells regardless of row count."""
    from dbt_lakehouse_aws_spark.standard_queries import T
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    seq = T(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        (sec - F.lag(sec).over(w)).alias("gap_s"),
    )

    def pdisc(p):
        return F.expr(
            f"percentile_disc({p}) WITHIN GROUP (ORDER BY gap_s)"
        ).cast("long")

    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            pdisc(0.5).alias("median_gap_s"),
            pdisc(0.9).alias("p90_gap_s"),
        )
        .orderBy("prev_type", "next_type")
    )


@_promoted(
    "weighted_kappa_quality",
    """
    WITH rated AS (
      SELECT CASE WHEN n_chars < 200 THEN 0 WHEN n_chars < 400 THEN 1
                  WHEN n_chars < 600 THEN 2 ELSE 3 END AS ra,
             CASE WHEN v4 < length(text) THEN 0
                  WHEN v4 < 2 * length(text) THEN 1
                  WHEN v4 < 3 * length(text) THEN 2 ELSE 3 END AS rb
      FROM (
        SELECT n_chars, text,
               4 * (length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))
                 AS v4
        FROM documents
      )
    ),
    cm AS (
      SELECT ra, rb, CAST(count(*) AS BIGINT) AS o
      FROM rated GROUP BY 1, 2
    ),
    m AS (
      SELECT CAST(sum(o) AS BIGINT) AS n FROM cm
    ),
    marg AS (
      SELECT a.ra, b.rb, a.na, b.nb
      FROM (SELECT ra, CAST(sum(o) AS BIGINT) AS na FROM cm GROUP BY 1) a
      CROSS JOIN (SELECT rb, CAST(sum(o) AS BIGINT) AS nb FROM cm GROUP BY 1) b
    ),
    terms AS (
      SELECT CAST(sum((marg.ra - marg.rb) * (marg.ra - marg.rb)
                      * coalesce(cm.o, 0)) AS BIGINT) AS wo_n,
             CAST(sum((marg.ra - marg.rb) * (marg.ra - marg.rb)
                      * CAST(marg.na AS HUGEINT) * marg.nb) AS DOUBLE)
               AS we_nn
      FROM marg LEFT JOIN cm ON cm.ra = marg.ra AND cm.rb = marg.rb
    )
    SELECT m.n,
           floor((1 - CAST(terms.wo_n AS DOUBLE) * m.n / terms.we_nn)
                 * 1e6 + 0.5) / 1e6 AS weighted_kappa_q
    FROM terms CROSS JOIN m
    """,
)
def weighted_kappa_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted Cohen's kappa — the inter-rater agreement
    statistic (labeling QA, model-vs-human grading): two independent
    4-level document 'raters' (length bands; vowel-density bands —
    both fixed-threshold, no rank windows), κ_w = 1 − Σw·O / Σw·E
    with quadratic weights (ra−rb)². Observed and expected terms are
    EXACT integers over the 4×4 contingency (expected rides
    HUGEINT/DECIMAL for nₐ·n_b), one float expression, quantized
    1e-6."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    d = T(spark, sf_dir, "documents").select(
        "n_chars",
        "text",
        (
            4
            * (
                F.length("text")
                - F.length(F.regexp_replace(F.col("text"), "[aeiou]", ""))
            )
        ).alias("v4"),
    )
    rated = d.select(
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 400, 1)
        .when(F.col("n_chars") < 600, 2)
        .otherwise(3)
        .alias("ra"),
        F.when(F.col("v4") < F.length("text"), 0)
        .when(F.col("v4") < 2 * F.length("text"), 1)
        .when(F.col("v4") < 3 * F.length("text"), 2)
        .otherwise(3)
        .alias("rb"),
    )
    cm = rated.groupBy("ra", "rb").agg(F.count(F.lit(1)).cast("long").alias("o"))
    n_tot = cm.agg(F.sum("o").cast("long").alias("n"))
    na = cm.groupBy("ra").agg(F.sum("o").cast("long").alias("na"))
    nb = cm.groupBy("rb").agg(F.sum("o").cast("long").alias("nb"))
    marg = na.crossJoin(nb)
    dec = "decimal(19,0)"
    w = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    terms = (
        marg.join(cm, ["ra", "rb"], "left")
        .agg(
            F.sum(w * F.coalesce(F.col("o"), F.lit(0))).cast("long").alias("wo_n"),
            F.sum(w.cast(dec) * F.col("na").cast(dec) * F.col("nb").cast(dec))
            .cast("double")
            .alias("we_nn"),
        )
    )
    kappa = 1 - F.col("wo_n").cast("double") * F.col("n") / F.col("we_nn")
    return terms.crossJoin(F.broadcast(n_tot)).select(
        "n", (F.floor(kappa * 1e6 + 0.5) / 1e6).alias("weighted_kappa_q")
    )


@_promoted(
    "feature_gini_importance",
    """
    WITH lab AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             o_orderstatus AS f_status,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) // 500000
                  AS VARCHAR) AS f_price_bin,
             CAST(CAST(EXTRACT(dow FROM o_orderdate) + 1 AS BIGINT)
                  AS VARCHAR) AS f_weekday
      FROM orders
    ),
    unp AS (
      SELECT 'status' AS feature, f_status AS val, y FROM lab
      UNION ALL
      SELECT 'price_bin', f_price_bin, y FROM lab
      UNION ALL
      SELECT 'weekday', f_weekday, y FROM lab
    ),
    cells AS (
      SELECT feature, val,
             CAST(sum(y) AS BIGINT) AS p,
             CAST(sum(1 - y) AS BIGINT) AS g
      FROM unp GROUP BY 1, 2
    ),
    per_feature AS (
      SELECT feature,
             CAST(count(*) AS BIGINT) AS n_values,
             CAST(sum(p) AS BIGINT) AS pt,
             CAST(sum(g) AS BIGINT) AS gt,
             sum((CAST(p AS DOUBLE) * p + CAST(g AS DOUBLE) * g)
                 / (p + g)) AS purity
      FROM cells GROUP BY 1
    )
    SELECT feature, n_values,
           floor((purity / (pt + gt)
                  - (CAST(pt AS DOUBLE) * pt + CAST(gt AS DOUBLE) * gt)
                    / (CAST(pt + gt AS DOUBLE) * (pt + gt)))
                 * 1e6 + 0.5) / 1e6 AS gini_gain_q
    FROM per_feature
    ORDER BY gini_gain_q DESC, feature ASC
    """,
)
def feature_gini_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-importance table by Gini gain — the stump device
    generalized to a feature RANKING (what a modeler reads before
    training anything): for each candidate feature (order status,
    $5k price bin, weekday) the impurity reduction of its multiway
    partition vs the parent, all from one unpivoted
    (feature, value, class) aggregate. The per-value purity sum is a
    float of exact-integer ratios over VOCABULARY-BOUNDED cells
    (statuses × bins × weekdays — drift ~cells·ulp, far under the
    1e-6 quantum); counts exact. Ranked by quantized gain with name
    tiebreak."""
    from dbt_lakehouse_aws_spark.standard_queries import T

    lab = T(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
        F.col("o_orderstatus").alias("f_status"),
        F.expr("cast(round(o_totalprice * 100) as bigint) div 500000")
        .cast("string")
        .alias("f_price_bin"),
        F.dayofweek("o_orderdate").cast("long").cast("string").alias("f_weekday"),
    )
    unp = (
        lab.select(F.lit("status").alias("feature"), F.col("f_status").alias("val"), "y")
        .unionAll(
            lab.select(
                F.lit("price_bin").alias("feature"),
                F.col("f_price_bin").alias("val"),
                "y",
            )
        )
        .unionAll(
            lab.select(
                F.lit("weekday").alias("feature"), F.col("f_weekday").alias("val"), "y"
            )
        )
    )
    cells = unp.groupBy("feature", "val").agg(
        F.sum("y").cast("long").alias("p"),
        F.sum(1 - F.col("y")).cast("long").alias("g"),
    )
    per_feature = cells.groupBy("feature").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("p").cast("long").alias("pt"),
        F.sum("g").cast("long").alias("gt"),
        F.sum(
            (F.col("p").cast("double") * F.col("p") + F.col("g").cast("double") * F.col("g"))
            / (F.col("p") + F.col("g"))
        ).alias("purity"),
    )
    pt, gt = F.col("pt"), F.col("gt")
    gain = F.col("purity") / (pt + gt) - (
        pt.cast("double") * pt + gt.cast("double") * gt
    ) / ((pt + gt).cast("double") * (pt + gt))
    return per_feature.select(
        "feature",
        "n_values",
        (F.floor(gain * 1e6 + 0.5) / 1e6).alias("gini_gain_q"),
    ).orderBy(F.desc("gini_gain_q"), F.asc("feature"))



# ---------------------------------------------------------------------------
# Rows moved up on the round-7 verdict (items 2 and 4): the capped-LPA
# twin (from staged_r12), the HLL error-bound row (from staged_r11),
# and the two NEW rows built this round (capped k-core twin, KMV
# error-bound twin) — all four 4-gate verified this round before
# registration; driver rows lead the round-9 window per rotation.py.
# ---------------------------------------------------------------------------

@_promoted(
    "hll_error_bound_users",
    """
    WITH per AS (
      SELECT CAST(event_type AS VARCHAR) AS group_key,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT '__total__' AS group_key,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events
    )
    SELECT group_key, exact_distinct, n_rows, TRUE AS bound_ok
    FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
    ORDER BY group_key
    """,
)
def hll_error_bound_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tolerance-checked twin of the rows-only HLL rows (VERDICT
    r6 item 7): DataSketches HLL per-type distinct-user estimates
    AND the grand total from the per-group SKETCH UNION (operators/
    aggregates.py::distinct_sketch_rollup, lg_k=12 → rsd ≈ 1.6%) are
    verified ENGINE-SIDE against exact distinct counts at a 10%
    relative bound (> 6σ for this lg_k — a failure means broken
    sketch plumbing, not sketch luck). The sketch estimate itself is
    engine-specific so the oracle pins (group, exact, n, bound-holds)
    — the approx_quantile_bounds device applied to count-distinct.
    The exact pass exists only to audit the sketch; production
    rollups read the KB-sized sketches alone."""
    from dbt_lakehouse_aws_spark.operators.aggregates import (
        distinct_sketch_rollup,
    )
    from dbt_lakehouse_aws_spark.sources.tables import T

    ev = T(spark, sf_dir, "events")
    est = distinct_sketch_rollup(ev, group_col="event_type", value_col="user_id")
    exact_per = ev.groupBy(
        F.col("event_type").cast("string").alias("group_key")
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    exact_tot = ev.agg(
        F.lit("__total__").alias("group_key"),
        F.countDistinct("user_id").cast("long").alias("exact_distinct"),
    )
    exact = exact_per.unionByName(exact_tot)
    return (
        est.join(exact, "group_key")
        .select(
            "group_key",
            "exact_distinct",
            "n_rows",
            (
                F.abs(F.col("distinct_est") - F.col("exact_distinct"))
                <= 0.10 * F.col("exact_distinct")
            ).alias("bound_ok"),
        )
        .orderBy("group_key")
    )


def _lpa_capped_oracle_sql(rounds: int = 3, k: int = 16) -> str:
    """Unrolled LPA oracle over the SLOT-BOUNDED + NEIGHBOR-CAPPED
    co-activity graph — the capped twins' two-stage CTE prelude
    (coactivity_capped_sql: top-32 per slot, then top-k neighbors)
    + queries_r7's unrolled label-propagation rounds."""
    from dbt_lakehouse_aws_spark.operators.coactivity import (
        coactivity_capped_sql,
    )

    parts = [
        coactivity_capped_sql().strip().rstrip(),
        f"""
    sym0 AS (
      SELECT a AS node, b AS nbr, shared FROM strong
      UNION ALL SELECT b, a, shared FROM strong
    ),
    ranked AS (
      SELECT node, nbr,
             row_number() OVER (PARTITION BY node
                                ORDER BY shared DESC, nbr ASC) AS rk
      FROM sym0
    ),
    capped AS MATERIALIZED (
      SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b
      FROM ranked WHERE rk <= {k}
    ),
    und AS (
      SELECT a AS u, b AS v FROM capped
      UNION ALL SELECT b, a FROM capped
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM und)"""
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


@_promoted("lpa_communities_capped_users", "PLACEHOLDER_LPA_CAPPED")
def lpa_communities_capped_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities on the NEIGHBOR-CAPPED
    co-activity graph — the scale-safe twin of lpa_communities_users
    (queries_r7), added after the round-7 sf1.0 artifact showed the
    uncapped form joining the exact wedge rows past the 240 s
    watchdog (3 LPA rounds are O(edges) each, and the RAW graph's
    edge count densifies ~quadratically with slot density; the
    top-16 cap bounds it at n·k). Same deterministic LPA — 3
    synchronous rounds, most-frequent-neighbor label, smallest-label
    ties, map-side max(struct) argmax — a DIFFERENT, fully-specified
    estimand on the kNN-sparsified graph, not an approximation of
    the uncapped row (which stays registered as calibration-class
    evidence at sf ≤ 0.1). Round 9 (VERDICT r8 item 1): the graph is
    now built by ``coactivity_weighted_capped`` — top-32 participants
    per (event_type, hour) slot BEFORE pairing — so the constructor
    is slots·C(32,2)-bounded instead of Θ(sf²)."""
    from dbt_lakehouse_aws_spark.operators.coactivity import (
        coactivity_weighted_capped,
    )
    from dbt_lakehouse_aws_spark.operators.graph import (
        cap_neighbors,
        label_propagation_rounds,
    )

    weighted = coactivity_weighted_capped(spark, sf_dir, min_shared=3)
    capped = cap_neighbors(weighted, k=16, weight="shared")
    labels = label_propagation_rounds(capped, src="a", dst="b", rounds=3)
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


_PROMOTED_ORACLES["lpa_communities_capped_users"] = _lpa_capped_oracle_sql(3, 16)


def _kcore_capped_oracle_sql(k_core: int, rounds: int, k_nn: int) -> str:
    """Unrolled k-core peeling oracle over the SLOT-BOUNDED +
    NEIGHBOR-CAPPED co-activity graph: the capped twins' two-stage
    CTE prelude (coactivity_capped_sql: top-32 per slot, then
    top-k_nn strongest neighbors per node, kNN-symmetrized) +
    queries_r6's unrolled synchronous peeling rounds."""
    from dbt_lakehouse_aws_spark.operators.coactivity import (
        coactivity_capped_sql,
    )

    parts = [
        coactivity_capped_sql().strip().rstrip(),
        f"""
    sym0 AS (
      SELECT a AS node, b AS nbr, shared FROM strong
      UNION ALL SELECT b, a, shared FROM strong
    ),
    ranked AS (
      SELECT node, nbr,
             row_number() OVER (PARTITION BY node
                                ORDER BY shared DESC, nbr ASC) AS rk
      FROM sym0
    ),
    capped AS MATERIALIZED (
      SELECT DISTINCT least(node, nbr) AS a, greatest(node, nbr) AS b
      FROM ranked WHERE rk <= {k_nn}
    ),
    nbr0 AS (
      SELECT a AS node, b AS nbr FROM capped
      UNION ALL SELECT b, a FROM capped
    )"""
    ]
    for i in range(rounds):
        parts.append(
            f"""
    keep{i} AS (
      SELECT node FROM (
        SELECT node, count(*) AS d FROM nbr{i} GROUP BY node
      ) WHERE d >= {k_core}
    ),
    nbr{i + 1} AS (
      SELECT n.node, n.nbr FROM nbr{i} n
      JOIN keep{i} x ON x.node = n.node
      JOIN keep{i} y ON y.node = n.nbr
    )"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT node AS user_id, CAST(count(*) AS BIGINT) AS degree
    FROM nbr{rounds} GROUP BY node
    ORDER BY degree DESC, user_id ASC
    """
    )


@_promoted("kcore_capped_users", "PLACEHOLDER_KCORE_CAPPED")
def kcore_capped_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the NEIGHBOR-CAPPED co-activity graph — the
    scale-safe twin of ``kcore_users_events`` (queries_r6), built
    after the round-7 sf1.0 artifact showed the uncapped form as the
    largest completion (138 s, 17.6× on 10× data: peeling itself is
    O(edges)/round, but the RAW co-activity graph's edge count
    densifies ~quadratically with slot density). ``cap_neighbors``'
    top-16 kNN symmetrization bounds every degree at 2k, so each
    peeling round costs O(n·k) however dense the raw graph gets —
    a DIFFERENT, fully-specified estimand on the sparsified graph,
    not an approximation of the uncapped row (which stays registered
    as calibration-class evidence). Same bounded peeling: 4
    synchronous rounds of "drop nodes with current degree < 2"
    (operators/graph.py::kcore_fixed_rounds), which the oracle
    unrolls verbatim over the identical capped-graph CTE prelude.
    Round 9 (VERDICT r8 item 1): the graph is now built by
    ``coactivity_weighted_capped`` — top-32 participants per
    (event_type, hour) slot BEFORE pairing — so the constructor is
    slots·C(32,2)-bounded instead of Θ(sf²)."""
    from dbt_lakehouse_aws_spark.operators.coactivity import (
        coactivity_weighted_capped,
    )
    from dbt_lakehouse_aws_spark.operators.graph import (
        cap_neighbors,
        kcore_fixed_rounds,
    )

    weighted = coactivity_weighted_capped(spark, sf_dir, min_shared=3)
    capped = cap_neighbors(weighted, k=16, weight="shared")
    out = kcore_fixed_rounds(capped, src="a", dst="b", k=2, rounds=4)
    return out.select(F.col("node").alias("user_id"), "degree").orderBy(
        F.desc("degree"), F.asc("user_id")
    )


_PROMOTED_ORACLES["kcore_capped_users"] = _kcore_capped_oracle_sql(2, 4, 16)


@_promoted(
    "kmv_error_bound_customers",
    """
    WITH pairs AS (
      SELECT CAST(o_orderpriority AS VARCHAR) AS group_key,
             o_custkey AS k FROM orders
      UNION ALL
      SELECT '__total__' AS group_key, o_custkey AS k FROM orders
    ),
    hashed AS (
      SELECT DISTINCT group_key,
             CAST(CAST('0x' || substr(
                    md5('kmv-seed-1|' || CAST(k AS VARCHAR)), 1, 15)
                  AS BIGINT) AS BIGINT) AS h
      FROM pairs
    ),
    cnt AS (
      SELECT group_key, CAST(count(*) AS BIGINT) AS exact_distinct
      FROM hashed GROUP BY 1
    ),
    cand AS (
      SELECT h.group_key, h.h,
             row_number() OVER (PARTITION BY h.group_key
                                ORDER BY h.h ASC) AS rn,
             c.exact_distinct
      FROM hashed h JOIN cnt c ON c.group_key = h.group_key
      WHERE CAST(h.h AS DOUBLE) * CAST(c.exact_distinct AS DOUBLE)
            <= 2361183241434822606848.0
    ),
    est AS (
      SELECT group_key, exact_distinct,
             CASE WHEN exact_distinct < 256
                  THEN CAST(exact_distinct AS DOUBLE)
                  ELSE (255.0 * 1152921504606846976.0)
                       / CAST(max(CASE WHEN rn = 256 THEN h END) AS DOUBLE)
             END AS kmv_est
      FROM cand GROUP BY group_key, exact_distinct
    )
    SELECT group_key, exact_distinct,
           floor(kmv_est * 1e6 + 0.5) / 1e6 AS kmv_est_q,
           (abs(kmv_est - exact_distinct) <= 0.20 * exact_distinct)
             AS bound_ok
    FROM est ORDER BY group_key
    """,
)
def kmv_error_bound_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL-value-oracled bound twin of the rows-only
    ``approx_distinct_users`` HLL row (VERDICT r7 item 4): a KMV
    (k-minimum-values) distinct-customer estimator (Bar-Yossef et
    al. 2002: D̂ = (k−1)/U_(k) over uniform hashes) whose hash is the
    portable 60-bit md5 prefix of (seed|custkey) — the dp_noisy /
    MinHash cross-engine device — so unlike the engine-specific HLL
    sketch the ESTIMATE itself is deterministic and hash-matched by
    DuckDB, not just the bound flag. Distinct o_custkey per order
    priority plus the '__total__' union row (~1,300 distinct per
    group at the driver's sf0.01 — comfortably past k, so the gate
    exercises the REAL rank-k estimator, not the small-group exact
    fallback; the events/user_id axis has only 150 users there),
    k=256 (rsd ≈ 1/√(k−2) ≈ 6.3%; the 20% audit bound is >3σ),
    exact-count fallback below k. Scale shape:
    the kth-smallest never global-sorts — candidates are pre-filtered
    to h ≤ 8k/D·2⁶⁰ using the exact count the audit needs anyway
    (expected 8k = 2048 rows/group, Chernoff-negligible truncation
    risk, and BOTH engines replay the same filter so the compare is
    deterministic regardless), then one bounded per-group window. At
    100 TB the production path keeps the KB-sized KMV synopsis via
    the same bounded top-k; the exact pass exists only to audit it."""
    from dbt_lakehouse_aws_spark.sources.tables import T

    o = T(spark, sf_dir, "orders")
    pairs = o.select(
        F.col("o_orderpriority").cast("string").alias("group_key"),
        F.col("o_custkey").alias("k"),
    ).unionByName(
        o.select(
            F.lit("__total__").alias("group_key"), F.col("o_custkey").alias("k")
        )
    )
    hashed = pairs.distinct().select(
        "group_key",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("kmv-seed-1|"), F.col("k").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    cnt = hashed.groupBy("group_key").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    cand = hashed.join(F.broadcast(cnt), "group_key").filter(
        F.col("h").cast("double") * F.col("exact_distinct").cast("double")
        <= F.lit(2361183241434822606848.0)  # 2^71 = 8·256·2^60, exact in IEEE
    )
    w = Window.partitionBy("group_key").orderBy(F.asc("h"))
    ranked = cand.withColumn("rn", F.row_number().over(w))
    est = ranked.groupBy("group_key", "exact_distinct").agg(
        F.when(
            F.col("exact_distinct") < 256,
            F.col("exact_distinct").cast("double"),
        )
        .otherwise(
            F.lit(255.0 * 1152921504606846976.0)
            / F.max(F.when(F.col("rn") == 256, F.col("h"))).cast("double")
        )
        .alias("kmv_est")
    )
    return est.select(
        "group_key",
        "exact_distinct",
        (F.floor(F.col("kmv_est") * 1e6 + 0.5) / 1e6).alias("kmv_est_q"),
        (
            F.abs(F.col("kmv_est") - F.col("exact_distinct"))
            <= 0.20 * F.col("exact_distinct")
        ).alias("bound_ok"),
    ).orderBy("group_key")


from dbt_lakehouse_aws_spark.localframe import local_frame  # noqa: E402
from dbt_lakehouse_aws_spark.operators.coactivity import (  # noqa: E402
    coactivity_capped_sql as _coactivity_capped_sql,
)

_PROMOTED_ORACLES["degree_assortativity_users"] = _PROMOTED_ORACLES[
    "degree_assortativity_users"
].replace(
    "PLACEHOLDER_CAPPED_PRELUDE", _coactivity_capped_sql().strip().rstrip()
)


# ---------------------------------------------------------------------------
# Registration: runs AFTER every definition above, so each query
# enters the registry with its final oracle.
# ---------------------------------------------------------------------------
from dbt_lakehouse_aws_spark.standard_queries import register as _register  # noqa: E402

for _name in list(_PROMOTED_QUERIES):
    _register(_name, _PROMOTED_ORACLES[_name])(_PROMOTED_QUERIES[_name])
