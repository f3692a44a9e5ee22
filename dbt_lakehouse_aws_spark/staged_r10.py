"""Round-10+ STAGED queries — work built after round 9's 50-slot
window (18 backfills + the 32 now in queries_r9.py) was already full.
Same staging discipline: every entry carries its oracle and is
pytest-verified each session by ``tests/test_staged_r6.py``.
"""

from __future__ import annotations

#: name → oracle SQL, mirrors standard_queries' registry shape
STAGED_ORACLES: dict[str, str] = {}
#: name → (spark, sf_dir) -> DataFrame
STAGED_QUERIES: dict[str, object] = {}


def _staged(name: str, oracle: str):
    def deco(fn):
        STAGED_ORACLES[name] = oracle
        STAGED_QUERIES[name] = fn
        return fn

    return deco


from pyspark.sql import DataFrame, SparkSession, Window  # noqa: E402,F401
from pyspark.sql import functions as F  # noqa: E402

from dbt_lakehouse_aws_spark.sources.tables import T  # noqa: E402


@_staged(
    "stream_session_equivalence",
    """
    WITH e AS (
      SELECT user_id, ts, CAST(round(value * 100) AS DOUBLE) AS v FROM events
    ),
    s AS (
      SELECT user_id, ts, v,
             CASE WHEN ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    t AS (
      SELECT user_id, v,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
      FROM s
    ),
    g AS (
      SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS cents
      FROM t GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS cents_total
    FROM g
    """,
)
def stream_session_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream/batch equivalence for STATEFUL SESSIONIZATION: the
    events flow through streaming/ingest.py::sessionize
    (applyInPandasWithState, 30-minute gap, event-time timeouts)
    with one FAR-FUTURE SENTINEL event appended per user, so every
    REAL session closes in-batch and emits deterministically — the
    sentinel's own 1-event session stays open forever and can never
    time out (its timeout sits past any watermark), which removes
    the only nondeterminism in availableNow stateful streams (the
    optional trailing empty batch that may or may not fire
    timeouts, observed flipping the emitted set by 13 sessions).
    The oracle sessionizes the real events INDEPENDENTLY with window
    functions (lag-gap flags -> running session ordinal). Values are
    integer cents fed through the stateful fold as integer-valued
    doubles, so per-session totals are summation-order-exact and the
    three aggregate checksums (sessions, events, cents) must match
    bit-for-bit — the ninth streaming-equivalence row."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.streaming.ingest import sessionize

    ev = T(spark, sf_dir, "events").select(
        "ts", "user_id", F.round(F.col("value") * 100).cast("double").alias("value")
    )
    sentinels = ev.select("user_id").distinct().select(
        F.lit("2099-01-01 00:00:00").cast("timestamp").alias("ts"),
        "user_id",
        F.lit(0.0).alias("value"),
    )
    root = tempfile.mkdtemp(prefix=f"sess_eq_{uuid.uuid4().hex[:8]}_")
    src = f"{root}/events"
    # ONE file -> ONE micro-batch (multi-file availableNow splits
    # into several batches, where late rows get watermark-dropped)
    ev.unionByName(sentinels).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    sessions = sessionize(stream, gap="30 minutes", watermark="1 hour")
    name = f"sess_eq_{uuid.uuid4().hex[:8]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{root}/ckpt")
        .start()
    )
    q.awaitTermination(600)
    return spark.table(name).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("total_value").cast("long").alias("cents_total"),
    )


@_staged(
    "theta_forecast_daily_events",
    """
    WITH daily AS MATERIALIZED (
      SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS t,
             CAST(sum(round(value * 100)) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(t) AS BIGINT) AS tmax
          FROM daily),
    ses AS (
      SELECT CAST(sum(CAST(floor(
               CASE WHEN d.t = 0
                    THEN d.y * power(0.7, CAST(x.tmax AS DOUBLE))
                    ELSE 0.3 * d.y * power(0.7, CAST(x.tmax - d.t AS DOUBLE)) END
               * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS ses_units
      FROM daily d CROSS JOIN n x
    ),
    ols AS (
      SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(t) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(t * y) AS BIGINT) AS sxy,
             CAST(sum(t * t) AS BIGINT) AS sxx
      FROM daily
    ),
    params AS (
      SELECT CAST(s.ses_units AS DOUBLE) / 1e6 AS level,
             (CAST(o.m AS DOUBLE) * o.sxy - CAST(o.sx AS DOUBLE) * o.sy)
               / (CAST(o.m AS DOUBLE) * o.sxx - CAST(o.sx AS DOUBLE) * o.sx)
               AS slope
      FROM ses s CROSS JOIN ols o
    )
    SELECT CAST(h.range AS BIGINT) AS horizon,
           floor((p.level + h.range * p.slope / 2) * 1e2 + 0.5) / 1e2
             AS forecast_cents_q
    FROM params p CROSS JOIN range(1, 8) h
    ORDER BY horizon
    """,
)
def theta_forecast_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast of daily revenue (Assimakopoulos &
    Nikolopoulos 2000; Hyndman & Billah 2003 prove theta=2 is SES
    WITH DRIFT at half the OLS slope — the M3-winning baseline):
    level = simple exponential smoothing (alpha=0.3) expanded to its
    CLOSED FORM (y_t weighted by alpha*(1-alpha)^(T-t), the t=0 term
    carrying the full (1-alpha)^T initial weight) so the recursion
    unrolls into one weighted sum — each term quantized to 1e-6
    units before summing (float-sum order lesson); drift = OLS
    slope / 2 from exact integer sufficient stats. Seven-day-ahead
    forecasts, floor-quantized to whole-cent precision x 1e-2.
    Complements holt_forecast (recursive unroll device) with the
    closed-form-weights device."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("t")
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("y")).localCheckpoint()
    n = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("t").cast("long").alias("tmax"),
    )
    d = daily.crossJoin(F.broadcast(n))
    w = F.when(
        F.col("t") == 0,
        F.col("y") * F.pow(F.lit(0.7), F.col("tmax").cast("double")),
    ).otherwise(
        0.3 * F.col("y") * F.pow(F.lit(0.7), (F.col("tmax") - F.col("t")).cast("double"))
    )
    ses = d.agg(
        F.sum(F.floor(w * 1e6 + 0.5).cast("long")).cast("long").alias("ses_units")
    )
    ols = daily.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("t").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("sxx"),
    )
    m = F.col("m").cast("double")
    slope = (m * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / (
        m * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    )
    params = ses.crossJoin(F.broadcast(ols)).select(
        (F.col("ses_units").cast("double") / 1e6).alias("level"),
        slope.alias("slope"),
    )
    horizons = spark.range(1, 8).select(F.col("id").cast("long").alias("horizon"))
    fc = F.col("level") + F.col("horizon") * F.col("slope") / 2
    return (
        params.crossJoin(F.broadcast(horizons))
        .select("horizon", (F.floor(fc * 1e2 + 0.5) / 1e2).alias("forecast_cents_q"))
        .orderBy("horizon")
    )


@_staged(
    "price_index_monthly_parts",
    """
    WITH pm AS MATERIALIZED (
      SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ym, l_partkey,
             CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS e,
             CAST(sum(round(l_quantity * 100)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    base AS MATERIALIZED (
      SELECT l_partkey, e AS e0, q AS q0 FROM pm
      WHERE ym = (SELECT min(ym) FROM pm)
    ),
    joined AS (
      SELECT p.ym,
             CAST(sum(CAST(floor(CAST(p.e AS DOUBLE) / p.q * b.q0 * 1e3 + 0.5)
                           AS BIGINT)) AS BIGINT) AS lnum_units,
             CAST(sum(CAST(floor(CAST(b.e0 AS DOUBLE) / b.q0 * b.q0 * 1e3 + 0.5)
                           AS BIGINT)) AS BIGINT) AS lden_units,
             CAST(sum(CAST(floor(CAST(p.e AS DOUBLE) / p.q * p.q * 1e3 + 0.5)
                           AS BIGINT)) AS BIGINT) AS pnum_units,
             CAST(sum(CAST(floor(CAST(b.e0 AS DOUBLE) / b.q0 * p.q * 1e3 + 0.5)
                           AS BIGINT)) AS BIGINT) AS pden_units,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM pm p JOIN base b ON b.l_partkey = p.l_partkey
      WHERE p.ym > (SELECT min(ym) FROM pm)
      GROUP BY 1
    )
    SELECT CAST(ym AS BIGINT) AS ym, n_parts,
           floor(CAST(lnum_units AS DOUBLE) / lden_units * 1e6 + 0.5) / 1e6
             AS laspeyres_q,
           floor(CAST(pnum_units AS DOUBLE) / pden_units * 1e6 + 0.5) / 1e6
             AS paasche_q,
           floor(sqrt((CAST(lnum_units AS DOUBLE) / lden_units)
                      * (CAST(pnum_units AS DOUBLE) / pden_units)) * 1e6 + 0.5) / 1e6
             AS fisher_q
    FROM joined
    ORDER BY ym
    """,
)
def price_index_monthly_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indexes per ship-month vs
    the first month (the CPI construction): per-(part, month) unit
    prices are the exact rational sum(price cents)/sum(qty cents),
    baskets are base-month quantities (Laspeyres), current-month
    quantities (Paasche), and their geometric mean (Fisher — the
    "ideal" index that cancels substitution bias). Only parts traded
    in BOTH months enter (matched-model rule). Every p*q term is
    quantized to integer milli-units BEFORE the cross-part sums
    (float-sum order lesson); indexes are one identical-order float
    expression each, floor-quantized 1e-6."""
    l = T(spark, sf_dir, "lineitem")
    pm = l.groupBy(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("ym"),
        "l_partkey",
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100)).cast("long").alias("e"),
        F.sum(F.round(F.col("l_quantity") * 100)).cast("long").alias("q"),
    ).localCheckpoint()
    ym0 = pm.agg(F.min("ym").alias("ym0"))
    base = (
        pm.crossJoin(F.broadcast(ym0))
        .filter(F.col("ym") == F.col("ym0"))
        .select("l_partkey", F.col("e").alias("e0"), F.col("q").alias("q0"))
    )
    cur = pm.crossJoin(F.broadcast(ym0)).filter(F.col("ym") > F.col("ym0"))
    j = cur.join(base, "l_partkey")
    price_m = F.col("e").cast("double") / F.col("q")
    price_0 = F.col("e0").cast("double") / F.col("q0")
    u = lambda expr: F.floor(expr * 1e3 + 0.5).cast("long")
    joined = j.groupBy("ym").agg(
        F.sum(u(price_m * F.col("q0"))).cast("long").alias("lnum_units"),
        F.sum(u(price_0 * F.col("q0"))).cast("long").alias("lden_units"),
        F.sum(u(price_m * F.col("q"))).cast("long").alias("pnum_units"),
        F.sum(u(price_0 * F.col("q"))).cast("long").alias("pden_units"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    lasp = F.col("lnum_units").cast("double") / F.col("lden_units")
    paas = F.col("pnum_units").cast("double") / F.col("pden_units")
    return joined.select(
        F.col("ym").cast("long").alias("ym"),
        "n_parts",
        (F.floor(lasp * 1e6 + 0.5) / 1e6).alias("laspeyres_q"),
        (F.floor(paas * 1e6 + 0.5) / 1e6).alias("paasche_q"),
        (F.floor(F.sqrt(lasp * paas) * 1e6 + 0.5) / 1e6).alias("fisher_q"),
    ).orderBy("ym")


@_staged(
    "woe_iv_segments",
    """
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    b AS (
      SELECT segment,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(1 - y) AS BIGINT) AS n_neg
      FROM j GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_pos) AS BIGINT) AS p_tot,
             CAST(sum(n_neg) AS BIGINT) AS n_tot
      FROM b
    )
    SELECT b.segment, b.n_pos, b.n_neg,
           floor(ln((CAST(b.n_pos AS DOUBLE) / t.p_tot)
                    / (CAST(b.n_neg AS DOUBLE) / t.n_tot)) * 1e6 + 0.5) / 1e6
             AS woe_q,
           floor((CAST(b.n_pos AS DOUBLE) / t.p_tot
                  - CAST(b.n_neg AS DOUBLE) / t.n_tot)
                 * ln((CAST(b.n_pos AS DOUBLE) / t.p_tot)
                      / (CAST(b.n_neg AS DOUBLE) / t.n_tot)) * 1e9 + 0.5) / 1e9
             AS iv_contrib_q
    FROM b CROSS JOIN tot t
    ORDER BY segment
    """,
)
def woe_iv_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence and Information-Value contribution per
    market segment against the urgent-order target — the credit-risk
    feature-screening standard (WOE = ln of the positive/negative
    distribution ratio per bucket; IV = sum of (dP - dN) * WOE, with
    the conventional <0.02 = useless, >0.3 = strong bands): the
    per-bucket view that target_encode_loo_orders' encoding and
    feature_gini_importance's split quality don't expose. Exact
    integer counts; WOE and the IV contribution are identical-order
    float expressions, floor-quantized (1e-6 / 1e-9)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
    )
    b = j.groupBy("segment").agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
    )
    tot = b.agg(
        F.sum("n_pos").cast("long").alias("p_tot"),
        F.sum("n_neg").cast("long").alias("n_tot"),
    )
    dp = F.col("n_pos").cast("double") / F.col("p_tot")
    dn = F.col("n_neg").cast("double") / F.col("n_tot")
    woe = F.log(dp / dn)
    return (
        b.crossJoin(F.broadcast(tot))
        .select(
            "segment", "n_pos", "n_neg",
            (F.floor(woe * 1e6 + 0.5) / 1e6).alias("woe_q"),
            (F.floor((dp - dn) * woe * 1e9 + 0.5) / 1e9).alias("iv_contrib_q"),
        )
        .orderBy("segment")
    )


@_staged(
    "acid_optimize_zorder_events",
    """
    WITH base AS (
      SELECT user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day_idx
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(sum(user_id) AS BIGINT) AS user_sum,
           CAST(sum(day_idx) AS BIGINT) AS day_sum
    FROM base GROUP BY 1
    ORDER BY event_type
    """,
)
def acid_optimize_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER under the driver gate: events land in an ACID
    table as many small incremental appends (the real ingest shape),
    then one transactional `optimize(zorder_by=[user_id, day_idx])`
    compacts them into multi-dimensionally clustered files. The
    returned per-type aggregates must match the oracle's relational
    replay EXACTLY — OPTIMIZE must move bytes, never values — and
    the in-code asserts pin the physical claims the value hash can't
    see: file count drops to the compaction target, the version
    bumps exactly once, and every post-OPTIMIZE file's manifest
    bounds on BOTH z-ordered columns are narrower than the full
    domain (the quad-tree locality that probe #24 measures as 9x
    trailing-dimension pruning)."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    base = T(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
    )
    t = AcidTable(
        spark, tempfile.mkdtemp(prefix=f"optz_{uuid.uuid4().hex[:8]}_") + "/t"
    )
    # 8 small appends -> fragmented layout (the incremental-writer shape)
    for i in range(8):
        t.write(base.filter(F.col("user_id") % 8 == i), mode="append")
    frag = t.snapshot()
    # adaptive target: a quarter of the table -> exactly four z-range
    # files (the four Morton QUADRANTS) at every SF. Two files would
    # split only the leading interleaved bit (narrowing one dimension);
    # four quadrants narrow BOTH columns, which is the property the
    # asserts pin. A fixed byte target flips between one file at
    # sf0.001 (vacuous) and dozens at sf0.1 (more than the appends).
    import os as _os

    total = sum(_os.path.getsize(t._resolve(f)) for f in frag.files)
    snap = t.optimize(
        target_file_bytes=max(1, total // 4 + 1),
        zorder_by=["user_id", "day_idx"],
    )
    assert snap.version == frag.version + 1, "OPTIMIZE must be one commit"
    assert len(snap.files) < len(frag.files), "compaction must shrink file count"
    # z-order locality: every file's bounds must be a proper sub-box
    users = base.agg(F.min("user_id"), F.max("user_id")).first()
    u_lo, u_hi = users[0], users[1]
    if len(snap.files) >= 4:
        # range boundaries come from z-quantile SAMPLING, so a
        # boundary file can straddle a quadrant corner and span a
        # full dimension — the robust locality claim is that EACH
        # z-ordered column is narrowed by at least one file (without
        # multi-dim clustering, every post-compaction file spans
        # every non-leading dimension; probe #24 quantifies the
        # full pruning effect)
        for col, (lo_all, hi_all) in (
            ("user_id", (u_lo, u_hi)),
            ("day_idx", tuple(base.agg(F.min("day_idx"), F.max("day_idx")).first())),
        ):
            spans = [
                snap.stats[f][col][1] - snap.stats[f][col][0]
                for f in snap.files
                if col in snap.stats.get(f, {})
            ]
            assert spans and min(spans) < (hi_all - lo_all), (
                f"no file narrows {col} — not z-clustered"
            )
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
            F.sum("user_id").cast("long").alias("user_sum"),
            F.sum("day_idx").cast("long").alias("day_sum"),
        )
        .orderBy("event_type")
    )


@_staged(
    "jarque_bera_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             sum(x) AS s1, sum(x * x) AS s2,
             sum(x * x * x) AS s3, sum(x * x * x * x) AS s4
      FROM daily GROUP BY 1
    ),
    m AS (
      SELECT event_type, n_days,
             s1 / n_days AS mu,
             s2 / n_days - (s1 / n_days) * (s1 / n_days) AS v,
             s1, s2, s3, s4
      FROM s
    ),
    jb AS (
      SELECT event_type, n_days,
             (s3 / n_days - 3 * mu * (s2 / n_days) + 2 * mu * mu * mu)
               / (v * sqrt(v)) AS skew,
             (s4 / n_days - 4 * mu * (s3 / n_days)
              + 6 * mu * mu * (s2 / n_days) - 3 * mu * mu * mu * mu)
               / (v * v) - 3.0 AS ex_kurt
      FROM m
    )
    SELECT event_type, n_days,
           floor((n_days / 6.0) * (skew * skew + ex_kurt * ex_kurt / 4.0)
                 * 1e6 + 0.5) / 1e6 AS jb_q,
           CASE WHEN (n_days / 6.0) * (skew * skew + ex_kurt * ex_kurt / 4.0)
                     > 5.991464547107979 THEN 'reject_normal'
                ELSE 'consistent_with_normal' END AS verdict
    FROM jb ORDER BY event_type
    """,
)
def jarque_bera_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on each event type's DAILY COUNT
    series — the load-profile question ("is traffic Gaussian or
    bursty?") that moments_by_priority's price moments don't answer.
    Same sufficient-statistic discipline: raw power sums Σx..Σx⁴ are
    one map-side-combinable aggregate; JB = n/6·(g₁² + g₂²/4) and the
    χ²(2) 95% critical value 5.9915 band the verdict. Counts cast to
    DOUBLE before the power sums on BOTH engines (Σx⁴ of BIGINT
    overflows int64 past ~20k-count days; HUGEINT is banned by the
    oracle gate)."""
    e = T(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    x = F.col("x")
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n = F.col("n_days")
    mu = F.col("s1") / n
    v = F.col("s2") / n - mu * mu
    skew = (F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu) / (
        v * F.sqrt(v)
    )
    ex_kurt = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    ) / (v * v) - 3.0
    jb = (n / 6.0) * (skew * skew + ex_kurt * ex_kurt / 4.0)
    return (
        s.select(
            "event_type",
            "n_days",
            (F.floor(jb * 1e6 + 0.5) / 1e6).alias("jb_q"),
            F.when(jb > 5.991464547107979, F.lit("reject_normal"))
            .otherwise(F.lit("consistent_with_normal"))
            .alias("verdict"),
        )
        .orderBy("event_type")
    )


@_staged(
    "mann_kendall_trend_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(sum(CAST(sign(b.cents - a.cents) AS BIGINT)) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day > a.day
      GROUP BY 1
    ),
    nn AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
    ),
    ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
      FROM (
        SELECT event_type, cents, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1, 2
      ) GROUP BY 1
    ),
    z AS (
      SELECT n.event_type, n.n_days, p.s_stat,
             (n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - t.tie_term)
               / 18.0 AS var_s
      FROM nn n JOIN pairs p ON p.event_type = n.event_type
      JOIN ties t ON t.event_type = n.event_type
    )
    SELECT event_type, n_days, s_stat,
           floor(var_s * 1e6 + 0.5) / 1e6 AS var_s_q,
           floor(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                      ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS z_q,
           CASE WHEN (CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                           WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                           ELSE 0.0 END) > 1.959963984540054 THEN 'increasing'
                WHEN (CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                           WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                           ELSE 0.0 END) < -1.959963984540054 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM z ORDER BY event_type
    """,
)
def mann_kendall_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type over the
    daily revenue series — the nonparametric TEST companion to
    theil_sen_trend_events' slope ESTIMATE (same series, the
    question flips from "how steep" to "is it real"). S = Σ sign
    differences over all day pairs stays exact BIGINT (cents), the
    tie-corrected variance n(n-1)(2n+5)/18 - Σt(t-1)(2t+5)/18 and
    continuity-corrected z are the only floats. The day-pair
    self-join is O(days²) per type — days is a CALENDAR axis
    (~bounded at any SF), never a row axis."""
    e = T(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    ).persist()
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.day") > F.col("a.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.signum(F.col("b.cents") - F.col("a.cents")).cast("long"))
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    t = F.col("t")
    ties = (
        daily.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("long")
            .alias("tie_term")
        )
    )
    n = F.col("n_days")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("tie_term")) / 18.0
    s_stat = F.col("s_stat")
    zexpr = (
        F.when(s_stat > 0, (s_stat - 1) / F.sqrt(F.col("var_s")))
        .when(s_stat < 0, (s_stat + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    crit = 1.959963984540054
    return (
        nn.join(pairs, "event_type")
        .join(ties, "event_type")
        .withColumn("var_s", var_s)
        .select(
            "event_type",
            "n_days",
            "s_stat",
            (F.floor(F.col("var_s") * 1e6 + 0.5) / 1e6).alias("var_s_q"),
            (F.floor(zexpr * 1e6 + 0.5) / 1e6).alias("z_q"),
            F.when(zexpr > crit, F.lit("increasing"))
            .when(zexpr < -crit, F.lit("decreasing"))
            .otherwise(F.lit("no_trend"))
            .alias("trend"),
        )
        .orderBy("event_type")
    )


@_staged(
    "dhondt_allocation_nations",
    """
    WITH votes AS (
      SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS votes
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    ),
    quot AS (
      SELECT v.nation, v.votes, d.d,
             v.votes / CAST(d.d AS DOUBLE) AS q_dh,
             v.votes / CAST(2 * d.d - 1 AS DOUBLE) AS q_sl
      FROM votes v CROSS JOIN (SELECT unnest(range(1, 41)) AS d) d
    ),
    dh AS (
      SELECT nation FROM (
        SELECT nation,
               row_number() OVER (ORDER BY q_dh DESC, nation ASC, d ASC) AS rk
        FROM quot
      ) WHERE rk <= 40
    ),
    sl AS (
      SELECT nation FROM (
        SELECT nation,
               row_number() OVER (ORDER BY q_sl DESC, nation ASC, d ASC) AS rk
        FROM quot
      ) WHERE rk <= 40
    )
    SELECT v.nation, v.votes,
           CAST(coalesce(dh.s, 0) AS BIGINT) AS seats_dhondt,
           CAST(coalesce(sl.s, 0) AS BIGINT) AS seats_sainte_lague
    FROM votes v
    LEFT JOIN (SELECT nation, count(*) AS s FROM dh GROUP BY 1) dh
      ON dh.nation = v.nation
    LEFT JOIN (SELECT nation, count(*) AS s FROM sl GROUP BY 1) sl
      ON sl.nation = v.nation
    ORDER BY v.votes DESC, v.nation ASC
    """,
)
def dhondt_allocation_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-quotient proportional allocation — D'Hondt (divisors
    1,2,3,…) and Sainte-Laguë (1,3,5,…) seat counts for a 40-seat
    house where each nation's "votes" are its customer count: the
    quota-free counterpart of largest_remainder_allocation (divisor
    methods can't suffer the Alabama paradox that haunts quota
    methods). Quotients votes/d are integer-ratio doubles — IEEE
    division both engines replay bit-identically — and ranking ties
    break on (nation, divisor). The divisor fan-out is nations×40
    rows: broadcast-sized at any SF because the house size, not the
    data, bounds it."""
    c = T(spark, sf_dir, "customer")
    nat = T(spark, sf_dir, "nation")
    votes = (
        c.join(F.broadcast(nat), nat.n_nationkey == c.c_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
        .persist()
    )
    quot = votes.select(
        "nation",
        "votes",
        F.explode(F.sequence(F.lit(1), F.lit(40))).alias("d"),
    ).select(
        "nation",
        "votes",
        "d",
        (F.col("votes") / F.col("d").cast("double")).alias("q_dh"),
        (F.col("votes") / (2 * F.col("d") - 1).cast("double")).alias("q_sl"),
    )

    def seats(qcol: str, out: str) -> DataFrame:
        from dbt_lakehouse_aws_spark.operators.windows import global_row_number

        # global rank with NO single-partition funnel (two-pass ranged
        # row_number) — the fan-out is only nations×40 rows, but the
        # primitive keeps the plan shape scalable by construction
        ranked = global_row_number(
            quot,
            [F.col(qcol).desc(), F.col("nation").asc(), F.col("d").asc()],
            name="rk",
        )
        return (
            ranked.filter(F.col("rk") <= 40)
            .groupBy("nation")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    return (
        votes.join(seats("q_dh", "s_dh"), "nation", "left")
        .join(seats("q_sl", "s_sl"), "nation", "left")
        .select(
            "nation",
            "votes",
            F.coalesce(F.col("s_dh"), F.lit(0)).cast("long").alias("seats_dhondt"),
            F.coalesce(F.col("s_sl"), F.lit(0)).cast("long").alias("seats_sainte_lague"),
        )
        .orderBy(F.col("votes").desc(), F.col("nation").asc())
    )


@_staged(
    "lorenz_curve_customers",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    dec AS (
      SELECT cents, ntile(10) OVER (ORDER BY cents ASC, o_custkey ASC) AS decile
      FROM rev
    ),
    per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
             CAST(sum(cents) AS BIGINT) AS decile_cents
      FROM dec GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev)
    SELECT p.decile AS decile, p.n_cust, p.decile_cents,
           floor(CAST(c.cum AS DOUBLE) / t.t * 1e9 + 0.5) / 1e9 AS cum_share_q
    FROM per p
    JOIN (
      SELECT a.decile, CAST(sum(b.decile_cents) AS BIGINT) AS cum
      FROM per a JOIN per b ON b.decile <= a.decile GROUP BY 1
    ) c ON c.decile = p.decile
    CROSS JOIN tot t
    ORDER BY decile
    """,
)
def lorenz_curve_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration — cumulative
    revenue share by poorest-first decile, the curve BEHIND
    gini_customer_revenue's scalar (the Gini is twice the area above
    this curve). Deciles come from ntile_scalable (two-pass ranged
    banding, no single-partition funnel) over exact cents with a
    custkey tiebreak for a total order; the 10-row cumulative fold is
    a triangular self-join over the decile AGGREGATES — relational,
    never a window over the data axis."""
    from dbt_lakehouse_aws_spark.operators.windows import ntile_scalable

    o = T(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    dec = ntile_scalable(
        rev, [F.col("cents").asc(), F.col("o_custkey").asc()], n=10, name="decile"
    )
    per = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("cents").cast("long").alias("decile_cents"),
    ).persist()
    # cumulative fold WITHOUT a non-equi join: each decile's total is
    # exploded onto every decile >= it, then re-aggregated — an
    # equi-groupBy the linter certifies, same result as the oracle's
    # triangular join
    cum = (
        per.select(
            F.explode(F.sequence(F.col("decile"), F.lit(10))).alias("decile"),
            F.col("decile_cents").alias("contrib"),
        )
        .groupBy("decile")
        .agg(F.sum("contrib").cast("long").alias("cum"))
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    return (
        per.join(cum, "decile")
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_cust",
            "decile_cents",
            (F.floor(F.col("cum").cast("double") / F.col("t") * 1e9 + 0.5) / 1e9).alias(
                "cum_share_q"
            ),
        )
        .orderBy("decile")
    )


@_staged(
    "poisson_rate_ratio_events",
    """
    WITH cnt AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           floor((CAST(a.n AS DOUBLE) / b.n) * 1e9 + 0.5) / 1e9 AS rate_ratio_q,
           floor(exp(ln(CAST(a.n AS DOUBLE) / b.n)
                     - 1.959963984540054 * sqrt(1.0 / a.n + 1.0 / b.n))
                 * 1e9 + 0.5) / 1e9 AS ci_lo_q,
           floor(exp(ln(CAST(a.n AS DOUBLE) / b.n)
                     + 1.959963984540054 * sqrt(1.0 / a.n + 1.0 / b.n))
                 * 1e9 + 0.5) / 1e9 AS ci_hi_q,
           CASE WHEN exp(ln(CAST(a.n AS DOUBLE) / b.n)
                         - 1.959963984540054 * sqrt(1.0 / a.n + 1.0 / b.n)) > 1.0
                  OR exp(ln(CAST(a.n AS DOUBLE) / b.n)
                         + 1.959963984540054 * sqrt(1.0 / a.n + 1.0 / b.n)) < 1.0
                THEN 'different' ELSE 'comparable' END AS verdict
    FROM cnt a JOIN cnt b ON a.event_type < b.event_type
    ORDER BY type_a, type_b
    """,
)
def poisson_rate_ratio_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate-ratio test for every pair of event
    types observed over the same calendar exposure — "does type A
    genuinely fire more often than type B?" with the standard
    log-scale Wald interval exp(ln(a/b) ± 1.96·√(1/a+1/b)) (equal
    exposure cancels the day terms). Counts stay exact BIGINT; the
    type-pair fan-out is |types|² — a schema axis, not a data axis.
    Complements abtest_conversion_ztest (proportions) with the
    count-process analogue."""
    e = T(spark, sf_dir, "events")
    cnt = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )
    a, b = cnt.alias("a"), cnt.alias("b")
    lr = F.log(F.col("a.n").cast("double") / F.col("b.n"))
    se = F.sqrt(1.0 / F.col("a.n") + 1.0 / F.col("b.n"))
    crit = 1.959963984540054
    lo = F.exp(lr - crit * se)
    hi = F.exp(lr + crit * se)
    return (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            (F.floor((F.col("a.n").cast("double") / F.col("b.n")) * 1e9 + 0.5) / 1e9)
            .alias("rate_ratio_q"),
            (F.floor(lo * 1e9 + 0.5) / 1e9).alias("ci_lo_q"),
            (F.floor(hi * 1e9 + 0.5) / 1e9).alias("ci_hi_q"),
            F.when((lo > 1.0) | (hi < 1.0), F.lit("different"))
            .otherwise(F.lit("comparable"))
            .alias("verdict"),
        )
        .orderBy("type_a", "type_b")
    )


@_staged(
    "nelson_aalen_repurchase",
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
    na AS (
      SELECT r.t, r.d,
             (SELECT sum(r2.d) FROM risk r2 WHERE r2.t >= r.t) AS n_at_risk
      FROM risk r
    ),
    curve AS (
      SELECT k.t, k.d, k.n_at_risk,
             (SELECT sum(CAST(k2.d AS DOUBLE) / k2.n_at_risk)
              FROM na k2 WHERE k2.t <= k.t) AS cum_h
      FROM na k
    )
    SELECT t AS gap_days, d AS n_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           floor(cum_h * 1e6 + 0.5) / 1e6 AS cum_hazard_q,
           floor(exp(-cum_h) * 1e6 + 0.5) / 1e6 AS fh_survival_q
    FROM curve
    ORDER BY gap_days
    """,
)
def nelson_aalen_repurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard for time-to-repurchase — the
    hazard-side twin of survival_km_repurchase on the SAME risk
    table: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ, plus the Fleming-Harrington
    survival exp(−H(t)) (a genuinely different estimator that KM
    bounds from below; comparing the two curves is the standard
    small-sample diagnostic). Same scalability shape as KM: O(rows)
    hash work to build the gap aggregate, then both cumulative
    directions ride broadcast non-equi joins over the ≤calendar-days
    risk frame — no global window."""
    ev = T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select("user_id", "ts", "event_id").withColumn(
        "k", F.row_number().over(w)
    )
    a = p.filter(F.col("k") == 1).select("user_id", F.to_date("ts").alias("d1"))
    b = p.filter(F.col("k") == 2).select("user_id", F.to_date("ts").alias("d2"))
    gaps = a.join(b, "user_id").select(
        F.datediff("d2", "d1").cast("long").alias("t")
    )
    risk = gaps.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("d"))
    r2 = risk.select(F.col("t").alias("t2"), F.col("d").alias("d2"))
    na = (
        risk.join(F.broadcast(r2), F.col("t2") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.sum("d2").alias("n_at_risk"))
    )
    k2 = na.select(
        F.col("t").alias("t2"),
        (F.col("d").cast("double") / F.col("n_at_risk")).alias("h2"),
    )
    curve = (
        na.join(F.broadcast(k2), F.col("t2") <= F.col("t"))
        .groupBy("t", "d", "n_at_risk")
        .agg(F.sum("h2").alias("cum_h"))
    )
    return curve.select(
        F.col("t").alias("gap_days"),
        F.col("d").alias("n_events"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        (F.floor(F.col("cum_h") * 1e6 + 0.5) / 1e6).alias("cum_hazard_q"),
        (F.floor(F.exp(-F.col("cum_h")) * 1e6 + 0.5) / 1e6).alias("fh_survival_q"),
    ).orderBy("gap_days")


@_staged(
    "mantel_haenszel_events",
    """
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS exposed,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS outcome
      FROM events GROUP BY 1, 2
    ),
    strata AS (
      SELECT CAST(isodow(day) AS BIGINT) AS stratum,
             CAST(sum(CASE WHEN exposed = 1 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN exposed = 1 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN exposed = 0 AND outcome = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN exposed = 0 AND outcome = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM ud GROUP BY 1
    ),
    rows_out AS (
      SELECT stratum, a, b, c, d,
             floor(CASE WHEN b * c = 0 THEN NULL
                        ELSE (CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c)
                   END * 1e6 + 0.5) / 1e6 AS odds_ratio_q
      FROM strata
      UNION ALL
      SELECT -1 AS stratum,
             CAST(sum(a) AS BIGINT), CAST(sum(b) AS BIGINT),
             CAST(sum(c) AS BIGINT), CAST(sum(d) AS BIGINT),
             floor(sum(CAST(a AS DOUBLE) * d / (a + b + c + d))
                   / sum(CAST(b AS DOUBLE) * c / (a + b + c + d))
                   * 1e6 + 0.5) / 1e6
      FROM strata
    )
    SELECT stratum, a, b, c, d, odds_ratio_q
    FROM rows_out ORDER BY stratum
    """,
)
def mantel_haenszel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio: does clicking on a day
    raise the odds of purchasing THAT day, after stratifying by
    ISO weekday? Confounder-adjusted 2x2 pooling — MH = Σ(aᵢdᵢ/nᵢ) /
    Σ(bᵢcᵢ/nᵢ) — the epidemiology-standard companion to
    simpsons_paradox_check (which detects the reversal; MH gives the
    adjusted effect). Stratum -1 carries the pooled estimate so the
    result stays one uniform relation. Exact integer cells; the only
    floats are the final ratios."""
    e = T(spark, sf_dir, "events")
    ud = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("exposed"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("outcome"),
    )
    ex, out = F.col("exposed"), F.col("outcome")
    strata = ud.groupBy(
        (F.weekday("day") + 1).cast("long").alias("stratum")
    ).agg(
        F.sum(((ex == 1) & (out == 1)).cast("int")).cast("long").alias("a"),
        F.sum(((ex == 1) & (out == 0)).cast("int")).cast("long").alias("b"),
        F.sum(((ex == 0) & (out == 1)).cast("int")).cast("long").alias("c"),
        F.sum(((ex == 0) & (out == 0)).cast("int")).cast("long").alias("d"),
    ).persist()
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    or_q = F.floor(
        F.when(
            b * c == 0, F.lit(None).cast("double")
        ).otherwise((a.cast("double") * d) / (b.cast("double") * c))
        * 1e6
        + 0.5
    ) / 1e6
    per = strata.select("stratum", "a", "b", "c", "d", or_q.alias("odds_ratio_q"))
    n = (a + b + c + d).cast("double")
    pooled = strata.agg(
        F.sum("a").cast("long").alias("a"),
        F.sum("b").cast("long").alias("b"),
        F.sum("c").cast("long").alias("c"),
        F.sum("d").cast("long").alias("d"),
        (
            F.floor(
                F.sum(a.cast("double") * d / n) / F.sum(b.cast("double") * c / n) * 1e6
                + 0.5
            )
            / 1e6
        ).alias("odds_ratio_q"),
    ).select(F.lit(-1).cast("long").alias("stratum"), "a", "b", "c", "d", "odds_ratio_q")
    return per.unionByName(pooled).orderBy("stratum")


@_staged(
    "seasonality_strength_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS wd,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             sum(x) AS s1, sum(x * x) AS s2
      FROM daily GROUP BY 1
    ),
    wmeans AS (
      SELECT event_type, wd, CAST(count(*) AS BIGINT) AS nw, sum(x) AS sw
      FROM daily GROUP BY 1, 2
    ),
    ssb AS (
      SELECT w.event_type,
             sum(w.nw * (w.sw / w.nw - t.s1 / t.n_days)
                      * (w.sw / w.nw - t.s1 / t.n_days)) AS between_ss
      FROM wmeans w JOIN tot t ON t.event_type = w.event_type
      GROUP BY 1
    ),
    peak AS (
      SELECT event_type, wd AS peak_wd FROM (
        SELECT event_type, wd, sw / nw AS m,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY sw / nw DESC, wd ASC) AS rk
        FROM wmeans
      ) WHERE rk = 1
    )
    SELECT t.event_type, t.n_days,
           floor(b.between_ss / (t.s2 - t.s1 * t.s1 / t.n_days) * 1e6 + 0.5)
             / 1e6 AS strength_q,
           p.peak_wd
    FROM tot t
    JOIN ssb b ON b.event_type = t.event_type
    JOIN peak p ON p.event_type = t.event_type
    ORDER BY t.event_type
    """,
)
def seasonality_strength_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality strength per event type: the fraction of
    daily-count variance explained by ISO weekday (SSB/SST — the η²
    of a one-way weekday ANOVA), plus the peak weekday. The 0-to-1
    score that tells a capacity planner whether weekday matters for
    this stream (stl_lite gives the decomposition; this gives the
    decision scalar). Two hash aggregates on (type, day) and
    (type, wd); counts cast to DOUBLE for the power sums, identical
    order both engines."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("wd"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    wmeans = daily.groupBy("event_type", "wd").agg(
        F.count(F.lit(1)).cast("long").alias("nw"),
        F.sum("x").alias("sw"),
    ).persist()
    j = wmeans.join(tot.select("event_type", "n_days", "s1"), "event_type")
    dev = F.col("sw") / F.col("nw") - F.col("s1") / F.col("n_days")
    ssb = j.groupBy("event_type").agg(
        F.sum(F.col("nw") * dev * dev).alias("between_ss")
    )
    wp = Window.partitionBy("event_type").orderBy(
        (F.col("sw") / F.col("nw")).desc(), F.col("wd").asc()
    )
    peak = (
        wmeans.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select("event_type", F.col("wd").alias("peak_wd"))
    )
    sst = F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_days")
    return (
        tot.join(ssb, "event_type")
        .join(peak, "event_type")
        .select(
            "event_type",
            "n_days",
            (F.floor(F.col("between_ss") / sst * 1e6 + 0.5) / 1e6).alias(
                "strength_q"
            ),
            "peak_wd",
        )
        .orderBy("event_type")
    )


@_staged(
    "roc_curve_points_orders",
    """
    WITH scored AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    bounds AS (
      SELECT min(cents) AS lo, max(cents) AS hi,
             CAST(sum(y) AS BIGINT) AS pos,
             CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM scored
    ),
    thresholds AS (
      SELECT i, lo + (hi - lo) * i // 20 AS thr, pos, neg
      FROM bounds CROSS JOIN (SELECT unnest(range(0, 20)) AS i) g
    )
    SELECT t.i AS point, t.thr AS threshold_cents,
           CAST(sum(CASE WHEN s.cents > t.thr AND s.y = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN s.cents > t.thr AND s.y = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           floor(sum(CASE WHEN s.cents > t.thr AND s.y = 1 THEN 1.0 ELSE 0 END)
                 / max(t.pos) * 1e9 + 0.5) / 1e9 AS tpr_q,
           floor(sum(CASE WHEN s.cents > t.thr AND s.y = 0 THEN 1.0 ELSE 0 END)
                 / max(t.neg) * 1e9 + 0.5) / 1e9 AS fpr_q
    FROM scored s CROSS JOIN thresholds t
    GROUP BY 1, 2
    ORDER BY point
    """,
)
def roc_curve_points_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve POINTS for the order-price -> urgent-priority
    classifier — the curve behind auc_order_priority's scalar: TPR
    vs FPR at 20 equal-width cent thresholds between the score min
    and max. Thresholds are BIGINT arithmetic ((hi-lo)*i/20 with
    integer division), so both engines place identical cut points;
    each data row is replicated onto the 20-row threshold axis
    (broadcast literal frame, a constant fan-out) and reduced in one
    aggregate — no per-threshold rescan, no sort."""
    o = T(spark, sf_dir, "orders")
    scored = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("y"),
    )
    bounds = scored.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    thresholds = bounds.select(
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("i"),
        "lo",
        "hi",
        "pos",
        "neg",
    ).select(
        "i",
        # integer division on BOTH engines ((hi-lo)*i is exact BIGINT;
        # DuckDB's `/` would widen to DOUBLE and its BIGINT cast
        # ROUNDS where Spark's truncates)
        (F.col("lo") + F.expr("(hi - lo) * i div 20")).alias("thr"),
        "pos",
        "neg",
    )
    hit = F.col("cents") > F.col("thr")
    return (
        scored.crossJoin(F.broadcast(thresholds))
        .groupBy(F.col("i").alias("point"), F.col("thr").alias("threshold_cents"))
        .agg(
            F.sum((hit & (F.col("y") == 1)).cast("int")).cast("long").alias("tp"),
            F.sum((hit & (F.col("y") == 0)).cast("int")).cast("long").alias("fp"),
            (
                F.floor(
                    F.sum(F.when(hit & (F.col("y") == 1), 1.0).otherwise(0.0))
                    / F.max("pos")
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("tpr_q"),
            (
                F.floor(
                    F.sum(F.when(hit & (F.col("y") == 0), 1.0).otherwise(0.0))
                    / F.max("neg")
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("fpr_q"),
        )
        .orderBy("point")
    )


@_staged(
    "atkinson_index_customers",
    """
    WITH rev AS (
      SELECT c.c_mktsegment AS segment,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_mktsegment, o.o_custkey
    ),
    s AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n,
             avg(CAST(cents AS DOUBLE)) AS mu,
             avg(sqrt(CAST(cents AS DOUBLE))) AS m_half,
             avg(ln(CAST(cents AS DOUBLE))) AS m_log
      FROM rev WHERE cents > 0 GROUP BY 1
    )
    SELECT segment, n,
           floor(mu * 1e2 + 0.5) / 1e2 AS mean_cents_q,
           floor((1.0 - m_half * m_half / mu) * 1e6 + 0.5) / 1e6
             AS atkinson_05_q,
           floor((1.0 - exp(m_log) / mu) * 1e6 + 0.5) / 1e6 AS atkinson_1_q
    FROM s ORDER BY segment
    """,
)
def atkinson_index_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index of customer revenue per market
    segment at aversion ε=0.5 (A = 1 − (E√x)²/Ex) and ε=1
    (A = 1 − geomean/mean) — the welfare-theoretic member of the
    inequality suite (gini_customer_revenue: rank-based;
    theil_index_customers: entropy-based; lorenz_curve_customers:
    the full curve). A_ε reads directly as "the fraction of total
    revenue society would give up for perfect equality" — and unlike
    Gini it is subgroup-decomposable by construction. One groupBy
    per (segment, customer), one per segment; positive-cents guard
    keeps ln/√ total."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    rev = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .filter(F.col("cents") > 0)
    )
    x = F.col("cents").cast("double")
    s = rev.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(x).alias("mu"),
        F.avg(F.sqrt(x)).alias("m_half"),
        F.avg(F.log(x)).alias("m_log"),
    )
    return s.select(
        "segment",
        "n",
        (F.floor(F.col("mu") * 1e2 + 0.5) / 1e2).alias("mean_cents_q"),
        (
            F.floor(
                (1.0 - F.col("m_half") * F.col("m_half") / F.col("mu")) * 1e6 + 0.5
            )
            / 1e6
        ).alias("atkinson_05_q"),
        (
            F.floor((1.0 - F.exp(F.col("m_log")) / F.col("mu")) * 1e6 + 0.5) / 1e6
        ).alias("atkinson_1_q"),
    ).orderBy("segment")


def _textrank_oracle_sql(iters: int = 8, damping: float = 0.85) -> str:
    """Unrolled weighted-PageRank (TextRank) fixpoint: fixed 8 rounds
    over the adjacent-word co-occurrence graph. edges/wdeg are
    referenced by every round — AS MATERIALIZED guards against the
    2^N inlining trap (auto-memory duckdb-numeric-traps). The
    per-edge ratio w/wdeg is computed ONCE in `ew`, mirroring the
    Spark operator's folded-ratio plan bit-for-bit."""
    steps = []
    prev = "r0"
    for i in range(1, iters + 1):
        steps.append(
            f"""r{i} AS (
      SELECT e.dst AS node, {1 - damping} + {damping} * sum(r.rank * e.ratio)
               AS rank
      FROM ew e JOIN {prev} r ON r.node = e.src
      GROUP BY e.dst)"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) + 1),
                      i -> {{'pos': i, 'tok': t[i]}})) AS u
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      )
    ),
    adj AS (
      SELECT a.tok AS u, b.tok AS v
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.tok <> a.tok
    ),
    und AS (
      SELECT least(u, v) AS x, greatest(u, v) AS y,
             CAST(count(*) AS BIGINT) AS w
      FROM adj GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
      SELECT x AS src, y AS dst, w FROM und
      UNION ALL SELECT y, x, w FROM und
    ),
    wdeg AS MATERIALIZED (
      SELECT src, CAST(sum(w) AS BIGINT) AS wd FROM edges GROUP BY 1
    ),
    ew AS MATERIALIZED (
      SELECT e.src, e.dst, e.w * 1.0 / d.wd AS ratio
      FROM edges e JOIN wdeg d ON d.src = e.src
    ),
    r0 AS (SELECT src AS node, 1.0 AS rank FROM wdeg),
    {chain}
    SELECT node AS token, round(rank, 6) AS rank
    FROM {prev}
    ORDER BY rank DESC, token ASC
    """


@_staged("textrank_keywords_docs", _textrank_oracle_sql())
def textrank_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scores (Mihalcea & Tarau 2004) over the
    corpus-level adjacent-word co-occurrence graph — the
    graph-centrality keyword ranker next to rake_keywords_docs'
    frequency heuristic: a word matters if it co-occurs with words
    that matter, exactly PageRank's recurrence with co-occurrence
    counts as edge weights. 8 fixed rounds through
    operators/graph.py::weighted_pagerank (folded w/wdeg ratio, one
    hash join + per-dst sum per round); the oracle unrolls the same
    fixpoint into chained CTEs. Graph size is VOCABULARY-bounded —
    at 100 TB of text the edge list still fits a broadcast."""
    from dbt_lakehouse_aws_spark.operators.graph import weighted_pagerank

    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    a = toks.select("doc_id", F.col("pos").alias("pa"), F.col("tok").alias("u"))
    b = toks.select("doc_id", F.col("pos").alias("pb"), F.col("tok").alias("v"))
    adj = a.join(b, "doc_id").filter(
        (F.col("pb") == F.col("pa") + 1) & (F.col("v") != F.col("u"))
    )
    und = (
        adj.select(
            F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = und.select(
        F.col("x").alias("src"), F.col("y").alias("dst"), "w"
    ).unionByName(
        und.select(F.col("y").alias("src"), F.col("x").alias("dst"), "w")
    )
    ranks = weighted_pagerank(edges, iters=8)
    return ranks.select(
        F.col("node").alias("token"), F.round("rank", 6).alias("rank")
    ).orderBy(F.desc("rank"), F.asc("token"))


def _ipf_oracle_sql(rounds: int = 4) -> str:
    """Unrolled iterative-proportional-fitting oracle: each round is
    a row-scaling CTE then a column-scaling CTE over the (event_type
    x ISO-weekday) cell table. Cells are referenced by every round ->
    MATERIALIZED; margins recompute per step exactly as the Spark
    loop does (identical join+sum order, so floats replay)."""
    steps = []
    prev = "w0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""rs{i} AS (
      SELECT w.event_type, w.wd, w.n,
             w.wt * (t.row_target / rsum.s) AS wt
      FROM {prev} w
      JOIN (SELECT event_type, sum(wt * n) AS s FROM {prev} GROUP BY 1) rsum
        ON rsum.event_type = w.event_type
      JOIN row_targets t ON t.event_type = w.event_type),
    w{i} AS (
      SELECT w.event_type, w.wd, w.n,
             w.wt * (t.col_target / csum.s) AS wt
      FROM rs{i} w
      JOIN (SELECT wd, sum(wt * n) AS s FROM rs{i} GROUP BY 1) csum
        ON csum.wd = w.wd
      JOIN col_targets t ON t.wd = w.wd)"""
        )
        prev = f"w{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS wd,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS t, count(DISTINCT event_type) AS k FROM cells),
    row_targets AS MATERIALIZED (
      SELECT DISTINCT event_type, (SELECT t / k FROM tot) AS row_target
      FROM cells
    ),
    col_targets AS MATERIALIZED (
      SELECT wd, sum(n) AS col_target FROM cells GROUP BY 1
    ),
    w0 AS (SELECT event_type, wd, n, 1.0 AS wt FROM cells),
    {chain}
    SELECT event_type, wd, CAST(n AS BIGINT) AS n,
           floor(wt * 1e6 + 0.5) / 1e6 AS weight_q,
           floor(wt * n * 1e4 + 0.5) / 1e4 AS raked_q
    FROM {prev}
    ORDER BY event_type, wd
    """


@_staged("ipf_raking_events", _ipf_oracle_sql())
def ipf_raking_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (survey raking) on the
    (event_type x ISO-weekday) contingency table: find cell weights
    whose weighted table matches EQUALIZED row margins (each event
    type gets total/k — the "rebalance the stream mix without
    touching the weekday profile" ask) while preserving the observed
    weekday margins. 4 unrolled Sinkhorn rounds (row-scale,
    col-scale); the fixpoint CTE-unrolls exactly like the pagerank
    device. The fit runs on the AGGREGATED cell table — k x 7 rows
    however big the raw stream is."""
    e = T(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("wd"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n")).persist()
    tot = cells.agg(
        F.sum("n").alias("t"), F.countDistinct("event_type").alias("k")
    ).first()
    row_target = tot["t"] / tot["k"]
    col_targets = cells.groupBy("wd").agg(F.sum("n").alias("col_target"))
    w = cells.withColumn("wt", F.lit(1.0))
    for _ in range(4):
        rsum = w.groupBy("event_type").agg(
            F.sum(F.col("wt") * F.col("n")).alias("s")
        )
        w = w.join(rsum, "event_type").select(
            "event_type",
            "wd",
            "n",
            (F.col("wt") * (F.lit(row_target) / F.col("s"))).alias("wt"),
        )
        csum = w.groupBy("wd").agg(F.sum(F.col("wt") * F.col("n")).alias("s"))
        w = (
            w.join(csum, "wd")
            .join(col_targets, "wd")
            .select(
                "event_type",
                "wd",
                "n",
                (F.col("wt") * (F.col("col_target") / F.col("s"))).alias("wt"),
            )
            # w feeds BOTH the next round's margin sums and its scaling
            # join — truncate lineage per round or the plan doubles
            # every iteration (the 2^N trap the oracle dodges with
            # MATERIALIZED); the frame is k x 7 rows
            .localCheckpoint(eager=True)
        )
    return w.select(
        "event_type",
        "wd",
        F.col("n").cast("long").alias("n"),
        (F.floor(F.col("wt") * 1e6 + 0.5) / 1e6).alias("weight_q"),
        (F.floor(F.col("wt") * F.col("n") * 1e4 + 0.5) / 1e4).alias("raked_q"),
    ).orderBy("event_type", "wd")


@_staged(
    "l_diversity_orders",
    """
    WITH classes AS (
      SELECT c.c_mktsegment AS segment,
             CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
             CAST(count(*) AS BIGINT) AS k_size,
             CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    ent AS (
      SELECT c.c_mktsegment AS segment,
             CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
             o.o_orderpriority AS s, CAST(count(*) AS BIGINT) AS ns
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2, 3
    ),
    h AS (
      SELECT e.segment, e.order_year,
             -sum((CAST(e.ns AS DOUBLE) / cl.k_size)
                  * ln(CAST(e.ns AS DOUBLE) / cl.k_size)) AS hval
      FROM ent e
      JOIN classes cl
        ON cl.segment = e.segment AND cl.order_year = e.order_year
      GROUP BY 1, 2
    )
    SELECT cl.segment AS segment, cl.order_year AS order_year,
           cl.k_size, cl.l_distinct,
           floor(exp(h.hval) * 1e6 + 0.5) / 1e6 AS entropy_l_q,
           CASE WHEN cl.l_distinct >= 3 THEN 'l3_ok' ELSE 'below_l3' END
             AS verdict
    FROM classes cl
    JOIN h ON h.segment = cl.segment AND h.order_year = cl.order_year
    ORDER BY cl.segment, cl.order_year
    """,
)
def l_diversity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of the (market segment, order year)
    quasi-identifier classes against the order-priority SENSITIVE
    attribute — the k-anonymity follow-up (k_anonymity_orders checks
    class SIZES; a class can be large yet reveal everyone's priority
    if it is homogeneous): distinct-l, entropy-l (exp of the class's
    Shannon entropy — the strict version that penalizes skewed
    mixes), and the l>=3 verdict. Two hash aggregates; the entropy
    join runs on class aggregates, never rows."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    j = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderpriority",
    )
    classes = j.groupBy("segment", "order_year").agg(
        F.count(F.lit(1)).cast("long").alias("k_size"),
        F.countDistinct("o_orderpriority").cast("long").alias("l_distinct"),
    )
    ent = j.groupBy("segment", "order_year", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    p = F.col("ns").cast("double") / F.col("k_size")
    h = (
        ent.join(classes.select("segment", "order_year", "k_size"),
                 ["segment", "order_year"])
        .groupBy("segment", "order_year")
        .agg((-F.sum(p * F.log(p))).alias("hval"))
    )
    return (
        classes.join(h, ["segment", "order_year"])
        .select(
            "segment",
            "order_year",
            "k_size",
            "l_distinct",
            (F.floor(F.exp(F.col("hval")) * 1e6 + 0.5) / 1e6).alias(
                "entropy_l_q"
            ),
            F.when(F.col("l_distinct") >= 3, F.lit("l3_ok"))
            .otherwise(F.lit("below_l3"))
            .alias("verdict"),
        )
        .orderBy("segment", "order_year")
    )


@_staged(
    "control_chart_rules_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    params AS (
      SELECT event_type,
             sum(CAST(n AS DOUBLE)) / count(*) AS mu,
             sqrt(sum(CAST(n AS DOUBLE) * n) / count(*)
                  - (sum(CAST(n AS DOUBLE)) / count(*))
                    * (sum(CAST(n AS DOUBLE)) / count(*))) AS sigma
      FROM daily GROUP BY 1
    ),
    z AS (
      SELECT d.event_type, d.day, d.n,
             (d.n - p.mu) / p.sigma AS zval,
             CASE WHEN d.n > p.mu THEN 1 ELSE 0 END AS side,
             row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
               AS rn
      FROM daily d JOIN params p ON p.event_type = d.event_type
    ),
    runs AS (
      SELECT *,
             rn - row_number() OVER (PARTITION BY event_type, side
                                     ORDER BY day) AS grp
      FROM z
    ),
    runlen AS (
      SELECT event_type, side, grp, CAST(count(*) AS BIGINT) AS run_len
      FROM runs GROUP BY 1, 2, 3
    ),
    flagged AS (
      SELECT r.event_type, r.day, r.n, r.zval,
             CASE WHEN abs(r.zval) > 3.0 THEN 1 ELSE 0 END AS rule_3sigma,
             CASE WHEN l.run_len >= 8 THEN 1 ELSE 0 END AS rule_8run
      FROM runs r
      JOIN runlen l ON l.event_type = r.event_type AND l.side = r.side
                   AND l.grp = r.grp
    )
    SELECT event_type, day, n,
           floor(zval * 1e6 + 0.5) / 1e6 AS z_q,
           CAST(rule_3sigma AS BIGINT) AS rule_3sigma,
           CAST(rule_8run AS BIGINT) AS rule_8run
    FROM (
      SELECT *,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY rule_3sigma + rule_8run DESC, abs(zval) DESC, day ASC
             ) AS rk
      FROM flagged
    )
    WHERE rk <= 5 OR rule_3sigma = 1 OR rule_8run = 1
    ORDER BY event_type, day
    """,
)
def control_chart_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart with Western Electric rules over each
    event type's daily count series: rule 1 (a point beyond ±3σ of
    the center line) and rule 4 (8+ consecutive points on one side
    of center — the drift signature a 3σ band never trips). σ is the
    population σ from power sums (engines disagree on sample
    corrections); run membership is gaps-and-islands (rn − rn-by-side
    — two per-type windows, partitioned, no global funnel). Returns
    only violating days. cusum_daily_events detects the shift;
    this is the operator-panel view that says WHICH rule fired."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    nd = F.col("n").cast("double")
    params = daily.groupBy("event_type").agg(
        (F.sum(nd) / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            F.sum(nd * F.col("n")) / F.count(F.lit(1))
            - (F.sum(nd) / F.count(F.lit(1)))
            * (F.sum(nd) / F.count(F.lit(1)))
        ).alias("sigma"),
    )
    z = daily.join(params, "event_type").select(
        "event_type",
        "day",
        "n",
        ((F.col("n") - F.col("mu")) / F.col("sigma")).alias("zval"),
        F.when(F.col("n") > F.col("mu"), 1).otherwise(0).alias("side"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("rn"),
    )
    runs = z.withColumn(
        "grp",
        F.col("rn")
        - F.row_number().over(
            Window.partitionBy("event_type", "side").orderBy("day")
        ),
    )
    runlen = runs.groupBy("event_type", "side", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    flagged = runs.join(runlen, ["event_type", "side", "grp"]).select(
        "event_type",
        "day",
        "n",
        "zval",
        F.when(F.abs(F.col("zval")) > 3.0, 1)
        .otherwise(0)
        .cast("long")
        .alias("rule_3sigma"),
        F.when(F.col("run_len") >= 8, 1).otherwise(0).cast("long").alias("rule_8run"),
    )
    # top-5 most anomalous days per type ALWAYS ship (violations rank
    # first), so a well-behaved stream still yields its watchlist
    # instead of an empty relation
    wk = Window.partitionBy("event_type").orderBy(
        (F.col("rule_3sigma") + F.col("rule_8run")).desc(),
        F.abs(F.col("zval")).desc(),
        F.col("day").asc(),
    )
    return (
        flagged.withColumn("rk", F.row_number().over(wk))
        .filter(
            (F.col("rk") <= 5)
            | (F.col("rule_3sigma") == 1)
            | (F.col("rule_8run") == 1)
        )
        .select(
            "event_type",
            "day",
            "n",
            (F.floor(F.col("zval") * 1e6 + 0.5) / 1e6).alias("z_q"),
            "rule_3sigma",
            "rule_8run",
        )
        .orderBy("event_type", "day")
    )


@_staged(
    "merge_full_sync_events",
    """
    WITH cuts AS (
      SELECT min(CAST(ts AS DATE)) + 20 AS src_cut,
             min(CAST(ts AS DATE)) + 10 AS stale_cut
      FROM events
    ),
    pre AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             max(CAST(ts AS DATE)) AS last_day
      FROM events WHERE CAST(ts AS DATE) < (SELECT src_cut FROM cuts)
      GROUP BY 1
    ),
    src AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             max(CAST(ts AS DATE)) AS last_day
      FROM events WHERE CAST(ts AS DATE) >= (SELECT src_cut FROM cuts)
      GROUP BY 1
    )
    SELECT coalesce(s.user_id, p.user_id) AS user_id,
           coalesce(s.n_events, p.n_events) AS n_events,
           coalesce(s.cents, p.cents) AS cents,
           coalesce(s.last_day, p.last_day) AS last_day
    FROM pre p FULL OUTER JOIN src s ON s.user_id = p.user_id
    WHERE s.user_id IS NOT NULL
       OR NOT (p.last_day < (SELECT stale_cut FROM cuts))
    ORDER BY user_id
    """,
)
def merge_full_sync_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with WHEN NOT MATCHED BY SOURCE THEN DELETE under the
    driver gate — the retention-sweep shape: a pre-March user-profile
    table is synced against the March activity snapshot in ONE atomic
    commit that upserts every March-active user AND deletes profiles
    that are both absent from the source and stale (last active
    before Feb). The oracle replays the three-way outcome with a full
    outer join; the engine asserts pin the transactional claims —
    one version bump, the operation records the clause."""
    import tempfile
    import uuid

    from dbt_lakehouse_aws_spark.sources.acid import AcidTable

    e = T(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def profile(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("cents"),
            F.max("day").alias("last_day"),
        )

    # SF-robust cuts derived from the data (sf0.001 spans one month;
    # sf0.1 several): source window opens at min+20 days, staleness
    # at min+10
    d0 = e.agg(F.min("day")).first()[0]
    src_cut = F.lit(str(d0 + __import__("datetime").timedelta(days=20))).cast(
        "date"
    )
    t = AcidTable(
        spark, tempfile.mkdtemp(prefix=f"nmbs_{uuid.uuid4().hex[:8]}_") + "/t"
    )
    t.write(profile(e.filter(F.col("day") < src_cut)).repartition(4))
    pre = t.snapshot()
    snap = t.merge(
        profile(e.filter(F.col("day") >= src_cut)),
        keys=["user_id"],
        not_matched_by_source_delete=(
            f"last_day < DATE '{d0 + __import__('datetime').timedelta(days=10)}'"
        ),
    )
    assert snap.version == pre.version + 1, "full sync must be one commit"
    assert "+nmbs_delete" in snap.operation
    return t.read().select(
        "user_id", "n_events", "cents", "last_day"
    ).orderBy("user_id")



def _g711_oracle_sql() -> str:
    """Closed-form G.711 µ-law encode∘decode quantizer in SQL —
    validated bit-exact against the numpy codec across the full
    int16 range. Bitwise ops are parenthesized per lane (DuckDB's
    same-precedence left associativity, auto-memory
    duckdb-numeric-traps)."""
    ax = "(least(abs(s), 32635) + 132)"
    ecase = (
        f"CASE WHEN {ax} < 256 THEN 0 WHEN {ax} < 512 THEN 1 "
        f"WHEN {ax} < 1024 THEN 2 WHEN {ax} < 2048 THEN 3 "
        f"WHEN {ax} < 4096 THEN 4 WHEN {ax} < 8192 THEN 5 "
        f"WHEN {ax} < 16384 THEN 6 ELSE 7 END"
    )
    # lambdas can't hold subqueries in DuckDB — inline the exponent
    # CASE at each use site instead of binding it once
    mag = (
        f"(((({ax} >> (({ecase}) + 3)) & 15) * 8 + 132)"
        f" * (1 << ({ecase})) - 132)"
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             CAST(30 + doc_id % 40 AS BIGINT) AS n,
             list_transform(range(0, CAST(30 + doc_id % 40 AS BIGINT)),
                            i -> (doc_id * 53 + i * 97) % 65536 - 32768) AS sam
      FROM documents
    ),
    dec AS (
      SELECT doc_id, n,
             list_transform(sam, s ->
               CASE WHEN s < 0 THEN -{mag}
                    ELSE {mag} END) AS d
      FROM base
    )
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           n AS n_frames,
           n * 1000 // 8000 AS duration_ms,
           CAST(list_sum(list_transform(d, x -> abs(x))) AS BIGINT) AS amp_sum,
           CAST(list_sum(list_transform(range(1, CAST(n AS INT)),
                i -> CASE WHEN (d[i] >= 0) != (d[i+1] >= 0) THEN 1 ELSE 0 END))
                AS BIGINT) AS zero_crossings
    FROM dec
    """


@_staged("audio_g711_features", _g711_oracle_sql())
def audio_g711_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 µ-law telephony audio under the driver gate: per doc a
    deterministic int16 waveform is COMPRESSED to genuine 8-bit
    µ-law RIFF/WAVE (format code 7 — the codec every PSTN/VoIP
    capture pipeline emits), then the WAV parser expands it back to
    linear PCM inside mapInPandas and emits integer-exact features
    of the DECODED signal. The oracle replays the ITU quantizer
    (bias-132 / MSB-segment / 4-bit-mantissa, validated bit-exact
    against the numpy codec over the whole int16 domain) in closed
    form — a green row proves the engine's µ-law bytes and expansion
    match the spec arithmetic, not just each other."""
    from dbt_lakehouse_aws_spark.llmops.multimodal import (
        encode_wav_ulaw,
        extract_audio_features,
    )

    def make_payloads(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n = 30 + doc_id % 40
                sam = (
                    (doc_id * 53 + np.arange(n, dtype=np.int64) * 97) % 65536
                    - 32768
                )
                payloads.append(encode_wav_ulaw(sam, 8000))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    d = T(spark, sf_dir, "documents").select("doc_id")
    payloads = d.mapInPandas(make_payloads, "doc_id long, payload binary")
    return extract_audio_features(payloads)


@_staged(
    "stream_late_data_equivalence",
    """
    WITH wm AS (
      SELECT max(ts) - INTERVAL 2 DAY AS w
      FROM events WHERE user_id % 10 != 0
    )
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE user_id % 10 != 0
       OR CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY
            > (SELECT w FROM wm)
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
)
def stream_late_data_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TENTH streaming certificate: WATERMARK LATE-DATA DROP.
    Run 1 streams only the on-time slice (user_id%10 != 0) through a
    1-day tumbling aggregate with a 2-day watermark into an
    append-mode parquet sink; run 2 RESTARTS from the checkpoint and
    replays the held-back slice against the checkpointed watermark
    (= max on-time ts − 2 days). Spark's late filter is
    WINDOW-level: a late row is dropped iff its day-window END ≤
    the watermark (verified empirically — row-level ts-vs-watermark
    models mismatch on the boundary day); rows whose window is
    still open legitimately merge — the oracle models exactly that
    (a far-future sentinel then advances the watermark; run 3's
    second sentinel forces the final evictions). A wrongly-kept
    too-late row would re-open an already-finalized window and
    surface as a duplicate window key; a wrongly-dropped fresh one
    undercounts its window. This pins the drop semantics none of the
    other nine certificates exercise (they feed data in order)."""
    import datetime as _dt
    import tempfile
    import uuid

    base = T(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    work = tempfile.mkdtemp(prefix=f"late_{uuid.uuid4().hex[:8]}_")
    inp, chk, out = f"{work}/in", f"{work}/chk", f"{work}/out"
    on_time = base.filter(F.col("user_id") % 10 != 0)
    late = base.filter(F.col("user_id") % 10 == 0)
    on_time.write.parquet(inp)
    max_ts = base.agg(F.max("ts")).first()[0]

    schema = "ts timestamp, user_id bigint, event_type string, cents bigint"

    def run_pass():
        stream = spark.readStream.schema(schema).parquet(inp)
        agg = (
            stream.withWatermark("ts", "2 days")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("cents").cast("long").alias("cents"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "cents")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    def sentinel(tag: str, days: int):
        spark.createDataFrame(
            [(max_ts + _dt.timedelta(days=days), -1, tag, 0)], schema
        ).write.mode("append").parquet(inp)

    run_pass()                 # on-time slice; watermark -> max_ts - 2d
    late.write.mode("append").parquet(inp)
    sentinel("sentinel1", 10)  # late rows face the checkpointed watermark
    run_pass()
    sentinel("sentinel2", 20)  # forces eviction of every on-time window
    run_pass()

    sink = spark.read.parquet(out)
    return (
        sink.filter(~F.col("event_type").startswith("sentinel"))
        .select(
            F.to_date("window_start").alias("day"),
            "event_type",
            "n_events",
            "cents",
        )
        .orderBy("day", "event_type")
    )


@_staged(
    "pacf_daily_events",
    """
    WITH daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day, count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.key, l.lag, a.x, b.x AS y
      FROM daily a
      CROSS JOIN (SELECT unnest(range(1, 4)) AS lag) l
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
    ),
    acf AS (
      SELECT key, lag,
             (n * sxy - sx * sy)
               / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0)
               AS r
      FROM stats
    ),
    wide AS (
      SELECT key,
             max(CASE WHEN lag = 1 THEN r END) AS r1,
             max(CASE WHEN lag = 2 THEN r END) AS r2,
             max(CASE WHEN lag = 3 THEN r END) AS r3
      FROM acf GROUP BY 1
    ),
    dl AS (
      SELECT key, r1, r2, r3,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
      FROM wide
    ),
    dl2 AS (
      SELECT key, r1, r2, r3, phi22,
             r1 - phi22 * r1 AS phi21
      FROM dl
    )
    SELECT key AS event_type,
           floor(r1 * 1e6 + 0.5) / 1e6 AS pacf1_q,
           floor(phi22 * 1e6 + 0.5) / 1e6 AS pacf2_q,
           floor((r3 - phi21 * r2 - phi22 * r1)
                 / (1.0 - phi21 * r1 - phi22 * r2) * 1e6 + 0.5) / 1e6
             AS pacf3_q
    FROM dl2 ORDER BY event_type
    """,
)
def pacf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) of per-type daily counts
    via the Durbin-Levinson recursion in closed form — the
    model-order diagnostic next to acf_daily_events (ACF says "is
    there memory"; PACF says "how many AR terms explain it": an
    AR(1) stream has phi22 ~ 0 however large r2 is). The lag
    correlations come from the same exact-sufficient-stat lag-pair
    device as the ACF query; phi22 = (r2-r1^2)/(1-r1^2) and the
    order-3 step are plain arithmetic both engines replay."""
    from dbt_lakehouse_aws_spark.operators.temporal import acf_daily

    ev = T(spark, sf_dir, "events")
    acf = acf_daily(ev, key_col="event_type", ts_col="ts", max_lag=3)
    wide = acf.groupBy("key").agg(
        F.max(F.when(F.col("lag") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("acf"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("acf"))).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    dl = wide.withColumn("phi22", (r2 - r1 * r1) / (1.0 - r1 * r1))
    dl2 = dl.withColumn("phi21", r1 - F.col("phi22") * r1)
    pacf3 = (r3 - F.col("phi21") * r2 - F.col("phi22") * r1) / (
        1.0 - F.col("phi21") * r1 - F.col("phi22") * r2
    )
    return dl2.select(
        F.col("key").alias("event_type"),
        (F.floor(r1 * 1e6 + 0.5) / 1e6).alias("pacf1_q"),
        (F.floor(F.col("phi22") * 1e6 + 0.5) / 1e6).alias("pacf2_q"),
        (F.floor(pacf3 * 1e6 + 0.5) / 1e6).alias("pacf3_q"),
    ).orderBy("event_type")


@_staged(
    "oaxaca_blinder_lineitem",
    """
    WITH g AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 'R' ELSE 'NA' END AS grp,
             CAST(count(*) AS DOUBLE) AS n,
             sum(l_quantity) AS sx,
             sum(l_extendedprice) AS sy,
             sum(l_quantity * l_quantity) AS sxx,
             sum(l_quantity * l_extendedprice) AS sxy
      FROM lineitem GROUP BY 1
    ),
    fit AS (
      SELECT grp, n, sx / n AS xbar, sy / n AS ybar,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta
      FROM g
    ),
    ab AS (
      SELECT a.xbar AS xa, a.ybar AS ya, a.beta AS ba,
             a.ybar - a.beta * a.xbar AS alpha_a,
             b.xbar AS xb, b.ybar AS yb, b.beta AS bb,
             b.ybar - b.beta * b.xbar AS alpha_b
      FROM fit a, fit b WHERE a.grp = 'R' AND b.grp = 'NA'
    )
    SELECT floor((ya - yb) * 1e4 + 0.5) / 1e4 AS gap_q,
           floor((xa - xb) * bb * 1e4 + 0.5) / 1e4 AS explained_q,
           floor((xa * (ba - bb) + (alpha_a - alpha_b)) * 1e4 + 0.5) / 1e4
             AS unexplained_q,
           floor(ba * 1e6 + 0.5) / 1e6 AS beta_r_q,
           floor(bb * 1e6 + 0.5) / 1e6 AS beta_na_q
    FROM ab
    """,
)
def oaxaca_blinder_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder decomposition of the returned-vs-kept mean
    line-value gap: how much of E[price|returned] − E[price|kept] is
    EXPLAINED by returned lines simply having different quantities
    (endowment term (x̄_R − x̄_N)·β_N) vs UNEXPLAINED (coefficient
    term x̄_R(β_R − β_N) + Δα — the "same quantity, different price
    slope" component). The two-term identity the mix-shift and LMDI
    decompositions don't give: it splits a group gap through a
    MODEL. One pass of per-group OLS sufficient stats; everything
    downstream is a 2-row cross join."""
    li = T(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    g = li.groupBy(
        F.when(F.col("l_returnflag") == "R", "R").otherwise("NA").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ["n", "sx", "sy", "sxx", "sxy"])
    fit = g.select(
        "grp",
        (sx / n).alias("xbar"),
        (sy / n).alias("ybar"),
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("beta"),
    )
    a = fit.filter(F.col("grp") == "R").select(
        F.col("xbar").alias("xa"), F.col("ybar").alias("ya"),
        F.col("beta").alias("ba"),
        (F.col("ybar") - F.col("beta") * F.col("xbar")).alias("alpha_a"),
    )
    b = fit.filter(F.col("grp") == "NA").select(
        F.col("xbar").alias("xb"), F.col("ybar").alias("yb"),
        F.col("beta").alias("bb"),
        (F.col("ybar") - F.col("beta") * F.col("xbar")).alias("alpha_b"),
    )
    ab = a.crossJoin(F.broadcast(b))
    return ab.select(
        (F.floor((F.col("ya") - F.col("yb")) * 1e4 + 0.5) / 1e4).alias("gap_q"),
        (
            F.floor((F.col("xa") - F.col("xb")) * F.col("bb") * 1e4 + 0.5) / 1e4
        ).alias("explained_q"),
        (
            F.floor(
                (
                    F.col("xa") * (F.col("ba") - F.col("bb"))
                    + (F.col("alpha_a") - F.col("alpha_b"))
                )
                * 1e4
                + 0.5
            )
            / 1e4
        ).alias("unexplained_q"),
        (F.floor(F.col("ba") * 1e6 + 0.5) / 1e6).alias("beta_r_q"),
        (F.floor(F.col("bb") * 1e6 + 0.5) / 1e6).alias("beta_na_q"),
    )


@_staged(
    "hurst_rs_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
               AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    expanded AS (
      SELECT e.event_type, e.day, e.x, e.n, s.s,
             e.i // s.s AS chunk
      FROM idx e CROSS JOIN (SELECT unnest([4, 8, 16]) AS s) s
      WHERE e.i // s.s < e.n // s.s
    ),
    cmean AS (
      SELECT event_type, s, chunk, sum(x) / s AS mu,
             sqrt(sum(x * x) / s - (sum(x) / s) * (sum(x) / s)) AS sd
      FROM expanded GROUP BY event_type, s, chunk
    ),
    cum AS (
      SELECT e.event_type, e.s, e.chunk, m.sd,
             sum(e.x - m.mu) OVER (PARTITION BY e.event_type, e.s, e.chunk
                                   ORDER BY e.day) AS c
      FROM expanded e
      JOIN cmean m ON m.event_type = e.event_type AND m.s = e.s
                  AND m.chunk = e.chunk
    ),
    rng AS (
      SELECT event_type, s, chunk, max(sd) AS sd,
             max(c) - min(c) AS r
      FROM cum GROUP BY 1, 2, 3
    ),
    logs AS (
      SELECT event_type, s, avg(ln(r / sd)) AS mlog,
             CAST(count(*) AS BIGINT) AS n_chunks
      FROM rng WHERE sd > 0 AND r > 0 GROUP BY 1, 2
    ),
    fit AS (
      SELECT event_type,
             (count(*) * sum(ln(CAST(s AS DOUBLE)) * mlog)
              - sum(ln(CAST(s AS DOUBLE))) * sum(mlog))
             / (count(*) * sum(ln(CAST(s AS DOUBLE)) * ln(CAST(s AS DOUBLE)))
                - sum(ln(CAST(s AS DOUBLE))) * sum(ln(CAST(s AS DOUBLE))))
               AS h
      FROM logs GROUP BY 1 HAVING count(*) = 3
    )
    SELECT f.event_type, floor(f.h * 1e6 + 0.5) / 1e6 AS hurst_q,
           CASE WHEN f.h > 0.65 THEN 'trending'
                WHEN f.h < 0.45 THEN 'mean_reverting'
                ELSE 'random_walk_like' END AS regime
    FROM fit f ORDER BY f.event_type
    """,
)
def hurst_rs_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by classical rescaled-range (R/S) analysis of
    each type's daily revenue series: split into dyadic chunks of
    4/8/16 days (sized so the smallest SF's ~30-day span still
    yields every size), per chunk the range of the cumulative
    mean-deviation profile over the population σ, then H = OLS slope
    of E[ln(R/S)] against ln(size) — H>0.5 long-memory/trending,
    H<0.5 mean-reverting; the long-memory diagnostic the ACF/PACF
    pair (exponential-decay world) cannot express. All windows are
    partitioned by (type, size, chunk); the fit runs on 3 rows per
    type. Types lacking 3 full sizes are excluded (HAVING = 3),
    keeping the estimand well-defined at every SF."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("double")
        .alias("x")
    )
    wi = Window.partitionBy("event_type").orderBy("day")
    wn = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "day",
        "x",
        (F.row_number().over(wi) - 1).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    sizes = spark.createDataFrame([(4,), (8,), (16,)], "s int")
    expanded = (
        idx.crossJoin(F.broadcast(sizes))
        .withColumn("chunk", F.expr("i div s"))
        .filter(F.expr("i div s < n div s"))
        .persist()
    )
    cmean = expanded.groupBy("event_type", "s", "chunk").agg(
        (F.sum("x") / F.col("s")).alias("mu"),
        F.sqrt(
            F.sum(F.col("x") * F.col("x")) / F.col("s")
            - (F.sum("x") / F.col("s")) * (F.sum("x") / F.col("s"))
        ).alias("sd"),
    )
    wc = Window.partitionBy("event_type", "s", "chunk").orderBy("day")
    cum = expanded.join(cmean, ["event_type", "s", "chunk"]).select(
        "event_type",
        "s",
        "chunk",
        "sd",
        F.sum(F.col("x") - F.col("mu")).over(wc).alias("c"),
    )
    rng = cum.groupBy("event_type", "s", "chunk").agg(
        F.max("sd").alias("sd"), (F.max("c") - F.min("c")).alias("r")
    )
    logs = (
        rng.filter((F.col("sd") > 0) & (F.col("r") > 0))
        .groupBy("event_type", "s")
        .agg(F.avg(F.log(F.col("r") / F.col("sd"))).alias("mlog"))
    )
    ls = F.log(F.col("s").cast("double"))
    fit = (
        logs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(ls * F.col("mlog")).alias("sxy"),
            F.sum(ls).alias("sx"),
            F.sum(F.col("mlog")).alias("sy"),
            F.sum(ls * ls).alias("sxx"),
        )
        .filter(F.col("k") == 3)
        .select(
            "event_type",
            (
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
            ).alias("h"),
        )
    )
    return fit.select(
        "event_type",
        (F.floor(F.col("h") * 1e6 + 0.5) / 1e6).alias("hurst_q"),
        F.when(F.col("h") > 0.65, F.lit("trending"))
        .when(F.col("h") < 0.45, F.lit("mean_reverting"))
        .otherwise(F.lit("random_walk_like"))
        .alias("regime"),
    ).orderBy("event_type")


@_staged(
    "phonetic_blocking_parts",
    """
    WITH words AS (
      SELECT p_partkey, lower(string_split(p_name, ' ')[1]) AS w
      FROM part
    ),
    keyed AS (
      SELECT p_partkey, w,
             substr(w, 1, 1) ||
             substr(
               replace(translate(substr(w, 2, 30),
                       'abcdefghijklmnopqrstuvwxyz',
                       '01230120022455012623010202'), '0', '') || '000',
               1, 3) AS pkey
      FROM words
    ),
    blocks AS (
      SELECT pkey, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(count(DISTINCT w) AS BIGINT) AS n_tokens,
             CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS within_pairs
      FROM keyed GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS all_pairs
      FROM keyed
    )
    SELECT b.pkey, b.n_parts, b.n_tokens, b.within_pairs,
           floor((1.0 - CAST((SELECT sum(within_pairs) FROM blocks) AS DOUBLE)
                        / (SELECT all_pairs FROM tot)) * 1e6 + 0.5) / 1e6
             AS reduction_ratio_q
    FROM blocks b
    ORDER BY b.n_parts DESC, b.pkey ASC
    LIMIT 20
    """,
)
def phonetic_blocking_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic (Russell consonant-class) blocking over part-name
    first tokens — the sound-alike linkage modality next to the
    composite key (record_linkage_parts), Monge-Elkan and trigram
    blocks: key = first letter + first three consonant-class digits
    (b/f/p/v→1, c/g/j/k/q/s/x/z→2, d/t→3, l→4, m/n→5, r→6, vowels
    dropped), built from the same translate/replace/substr
    expressions on BOTH engines — no UDF, no engine-specific soundex
    (whose H/W edge rules differ across implementations). Reports
    the 20 largest blocks plus the global pair-reduction ratio, the
    metric that justifies blocking at 100 TB (JW only runs inside
    blocks)."""
    p = T(spark, sf_dir, "part")
    w = F.lower(F.element_at(F.split("p_name", " "), 1))
    words = p.select("p_partkey", w.alias("w"))
    pkey = F.concat(
        F.substring("w", 1, 1),
        F.substring(
            F.concat(
                F.replace(
                    F.translate(
                        F.substring("w", 2, 30),
                        "abcdefghijklmnopqrstuvwxyz",
                        "01230120022455012623010202",
                    ),
                    F.lit("0"),
                    F.lit(""),
                ),
                F.lit("000"),
            ),
            1,
            3,
        ),
    )
    keyed = words.select("p_partkey", "w", pkey.alias("pkey")).persist()
    blocks = keyed.groupBy("pkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.countDistinct("w").cast("long").alias("n_tokens"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("long")
        .alias("within_pairs"),
    ).persist()
    tot = keyed.agg(
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("long")
        .alias("all_pairs")
    )
    wsum = blocks.agg(F.sum("within_pairs").cast("double").alias("wp"))
    rr = (
        tot.crossJoin(wsum)
        .select(
            (F.floor((1.0 - F.col("wp") / F.col("all_pairs")) * 1e6 + 0.5) / 1e6)
            .alias("reduction_ratio_q")
        )
    )
    return (
        blocks.crossJoin(F.broadcast(rr))
        .select("pkey", "n_parts", "n_tokens", "within_pairs",
                "reduction_ratio_q")
        .orderBy(F.desc("n_parts"), F.asc("pkey"))
        .limit(20)
    )


@_staged(
    "sprt_conversion_monitor",
    """
    WITH trials AS (
      SELECT user_id % 2 AS arm, CAST(ts AS DATE) AS day,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    daily AS (
      SELECT arm, day,
             CAST(sum(y) AS BIGINT) AS succ,
             CAST(count(*) - sum(y) AS BIGINT) AS fail
      FROM trials GROUP BY 1, 2
    ),
    llr AS (
      SELECT arm, day, succ, fail,
             sum(succ * ln(0.35 / 0.25) + fail * ln(0.65 / 0.75))
               OVER (PARTITION BY arm ORDER BY day) AS cum
      FROM daily
    ),
    crossings AS (
      SELECT arm, min(day) AS first_cross_day
      FROM llr WHERE cum >= ln(19.0) OR cum <= -ln(19.0)
      GROUP BY 1
    ),
    final AS (
      SELECT arm, max(day) AS last_day,
             CAST(count(*) AS BIGINT) AS n_days
      FROM llr GROUP BY 1
    ),
    at_cross AS (
      SELECT l.arm, l.cum AS cross_llr
      FROM llr l JOIN crossings c
        ON c.arm = l.arm AND c.first_cross_day = l.day
    )
    SELECT f.arm, f.n_days, c.first_cross_day,
           CASE WHEN c.first_cross_day IS NULL THEN 'continue'
                WHEN a.cross_llr >= ln(19.0) THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           floor(a.cross_llr * 1e6 + 0.5) / 1e6 AS cross_llr_q
    FROM final f
    LEFT JOIN crossings c ON c.arm = f.arm
    LEFT JOIN at_cross a ON a.arm = f.arm
    ORDER BY f.arm
    """,
)
def sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test as a daily
    conversion monitor: each arm's (user_id parity) click/purchase
    stream accumulates the Bernoulli log-likelihood ratio for
    H1: p=0.35 vs H0: p=0.25, aggregated per DAY (LLR is additive,
    so the cumulative walk runs on the calendar-bounded daily frame
    — the production monitoring shape, and no row-axis window).
    Decision at the first day the walk exits ±ln(19) (α=β=0.05).
    The always-valid companion to abtest_conversion_ztest's
    fixed-horizon test: SPRT lets you stop the moment evidence
    suffices."""
    e = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    daily = e.groupBy(
        (F.col("user_id") % 2).alias("arm"),
        F.to_date("ts").alias("day"),
    ).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("succ"),
        F.sum((F.col("event_type") != "purchase").cast("int"))
        .cast("long")
        .alias("fail"),
    )
    import math

    lw = Window.partitionBy("arm").orderBy("day")
    inc = F.col("succ") * math.log(0.35 / 0.25) + F.col("fail") * math.log(
        0.65 / 0.75
    )
    llr = daily.withColumn("cum", F.sum(inc).over(lw)).persist()
    a = math.log(19.0)
    crossings = (
        llr.filter((F.col("cum") >= a) | (F.col("cum") <= -a))
        .groupBy("arm")
        .agg(F.min("day").alias("first_cross_day"))
    )
    final = llr.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    lx = llr.select(
        F.col("arm").alias("xarm"), F.col("day").alias("xday"), "cum"
    )
    at_cross = lx.join(
        crossings,
        (F.col("xarm") == F.col("arm"))
        & (F.col("xday") == F.col("first_cross_day")),
    ).select(F.col("xarm").alias("arm"), F.col("cum").alias("cross_llr"))
    return (
        final.join(crossings, "arm", "left")
        .join(at_cross, "arm", "left")
        .select(
            "arm",
            "n_days",
            "first_cross_day",
            F.when(F.col("first_cross_day").isNull(), F.lit("continue"))
            .when(F.col("cross_llr") >= a, F.lit("accept_h1"))
            .otherwise(F.lit("accept_h0"))
            .alias("decision"),
            (F.floor(F.col("cross_llr") * 1e6 + 0.5) / 1e6).alias("cross_llr_q"),
        )
        .orderBy("arm")
    )


@_staged(
    "benjamini_hochberg_cells",
    """
    WITH cells AS (
      SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS wd,
             CAST(count(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(obs) / 7.0 AS expected FROM cells GROUP BY 1
    ),
    z AS (
      SELECT c.event_type, c.wd, c.obs,
             (c.obs - t.expected) / sqrt(t.expected) AS zval
      FROM cells c JOIN tot t ON t.event_type = c.event_type
    ),
    p AS (
      SELECT event_type, wd, obs, zval,
             2.0 * (1.0 - 1.0 / (1.0 + exp(-1.702 * abs(zval)))) AS pval
      FROM z
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY pval ASC, event_type ASC, wd ASC)
               AS rk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM p
    ),
    kmax AS (
      SELECT coalesce(max(rk), 0) AS k
      FROM ranked WHERE pval <= rk * 0.10 / m
    )
    SELECT event_type, wd, obs,
           floor(zval * 1e6 + 0.5) / 1e6 AS z_q,
           floor(pval * 1e9 + 0.5) / 1e9 AS p_q,
           CAST(rk AS BIGINT) AS rank,
           CASE WHEN rk <= (SELECT k FROM kmax) THEN 1 ELSE 0 END
             AS discovery
    FROM ranked
    ORDER BY rank
    """,
)
def benjamini_hochberg_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the (event_type x ISO
    weekday) Poisson-deviation hypothesis family: per cell a z-score
    against the type's uniform-weekday expectation, a two-sided
    p-value through the LOGISTIC normal-CDF surrogate Φ(x) ≈
    σ(1.702x) (a fully-specified estimand both engines replay
    bit-identically — no erf in either SQL dialect), then the BH
    step-up rule at q=0.10: discoveries are ranks ≤ max{k: p_(k) ≤
    k·q/m}. THE multiple-testing companion every per-cell test in
    the registry lacks. The hypothesis family is schema-bounded
    (types x 7), so the rank window rides global_row_number's
    scalable two-pass plan."""
    e = T(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("wd"),
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    tot = cells.groupBy("event_type").agg((F.sum("obs") / 7.0).alias("expected"))
    z = cells.join(tot, "event_type").withColumn(
        "zval", (F.col("obs") - F.col("expected")) / F.sqrt(F.col("expected"))
    )
    p = z.withColumn(
        "pval",
        2.0 * (1.0 - 1.0 / (1.0 + F.exp(-1.702 * F.abs(F.col("zval"))))),
    )
    from dbt_lakehouse_aws_spark.operators.windows import global_row_number

    ranked = global_row_number(
        p, [F.col("pval").asc(), F.col("event_type").asc(), F.col("wd").asc()],
        name="rk",
    ).persist()
    m = ranked.agg(F.count(F.lit(1)).alias("m"))
    ranked_m = ranked.crossJoin(F.broadcast(m))
    kmax = (
        ranked_m.filter(F.col("pval") <= F.col("rk") * 0.10 / F.col("m"))
        .agg(F.coalesce(F.max("rk"), F.lit(0)).alias("k"))
    )
    return (
        ranked_m.crossJoin(F.broadcast(kmax))
        .select(
            "event_type",
            "wd",
            "obs",
            (F.floor(F.col("zval") * 1e6 + 0.5) / 1e6).alias("z_q"),
            (F.floor(F.col("pval") * 1e9 + 0.5) / 1e9).alias("p_q"),
            F.col("rk").cast("long").alias("rank"),
            F.when(F.col("rk") <= F.col("k"), 1).otherwise(0).alias("discovery"),
        )
        .orderBy("rank")
    )


@_staged(
    "log_rank_repurchase_arms",
    """
    WITH purchases AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS k
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT a.user_id % 2 AS arm,
             CAST(date_diff('day', CAST(a.ts AS DATE), CAST(b.ts AS DATE))
                  AS BIGINT) AS t
      FROM purchases a JOIN purchases b
        ON b.user_id = a.user_id AND b.k = a.k + 1
      WHERE a.k = 1
    ),
    d AS (
      SELECT t,
             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
             CAST(count(*) AS BIGINT) AS dt
      FROM gaps GROUP BY 1
    ),
    risk AS (
      SELECT a.t, a.d0, a.dt,
             CAST((SELECT sum(CASE WHEN g.t >= a.t AND g.arm = 0 THEN 1 ELSE 0 END)
                   FROM gaps g) AS BIGINT) AS n0,
             CAST((SELECT sum(CASE WHEN g.t >= a.t THEN 1 ELSE 0 END)
                   FROM gaps g) AS BIGINT) AS nt
      FROM d a
    ),
    terms AS (
      SELECT t,
             d0 - dt * (CAST(n0 AS DOUBLE) / nt) AS u,
             CASE WHEN nt > 1 THEN
               dt * (CAST(n0 AS DOUBLE) / nt) * (1.0 - CAST(n0 AS DOUBLE) / nt)
                  * (nt - dt) / (nt - 1.0)
             ELSE 0.0 END AS v
      FROM risk
    )
    SELECT CAST(count(*) AS BIGINT) AS n_times,
           floor(sum(u) * 1e6 + 0.5) / 1e6 AS u_q,
           floor(sum(v) * 1e6 + 0.5) / 1e6 AS v_q,
           floor(sum(u) * sum(u) / sum(v) * 1e6 + 0.5) / 1e6 AS chi2_q,
           CASE WHEN sum(u) * sum(u) / sum(v) > 3.841458820694124
                THEN 'different' ELSE 'comparable' END AS verdict
    FROM terms
    """,
)
def log_rank_repurchase_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample LOG-RANK test on time-to-repurchase between the
    user-parity arms — the hypothesis-test companion to the KM and
    Nelson-Aalen curves (they describe; this decides): at each event
    time, observed arm-0 events vs the hypergeometric expectation
    d·n0/n, U = Σ(O−E), V = Σ hypergeometric variances, χ² = U²/V
    against the 1-df 95% critical value. O(rows) hash work to the
    gap table; both at-risk directions ride the calendar-bounded
    risk frame exactly like survival_km_repurchase."""
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
        (F.col("user_id") % 2).alias("arm"),
        F.datediff("d2", "d1").cast("long").alias("t"),
    ).persist()
    d = gaps.groupBy("t").agg(
        F.sum((F.col("arm") == 0).cast("int")).cast("long").alias("d0"),
        F.count(F.lit(1)).cast("long").alias("dt"),
    )
    g2 = gaps.select(F.col("t").alias("t2"), "arm")
    risk = (
        d.join(F.broadcast(g2), F.col("t2") >= F.col("t"))
        .groupBy("t", "d0", "dt")
        .agg(
            F.sum((F.col("arm") == 0).cast("int")).cast("long").alias("n0"),
            F.count(F.lit(1)).cast("long").alias("nt"),
        )
    )
    frac = F.col("n0").cast("double") / F.col("nt")
    terms = risk.select(
        (F.col("d0") - F.col("dt") * frac).alias("u"),
        F.when(
            F.col("nt") > 1,
            F.col("dt")
            * frac
            * (1.0 - frac)
            * (F.col("nt") - F.col("dt"))
            / (F.col("nt") - 1.0),
        )
        .otherwise(0.0)
        .alias("v"),
    )
    chi2 = F.sum("u") * F.sum("u") / F.sum("v")
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_times"),
        (F.floor(F.sum("u") * 1e6 + 0.5) / 1e6).alias("u_q"),
        (F.floor(F.sum("v") * 1e6 + 0.5) / 1e6).alias("v_q"),
        (F.floor(chi2 * 1e6 + 0.5) / 1e6).alias("chi2_q"),
        F.when(chi2 > 3.841458820694124, F.lit("different"))
        .otherwise(F.lit("comparable"))
        .alias("verdict"),
    )


@_staged(
    "negbin_moments_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             sum(x) / count(*) AS mu,
             sum(x * x) / count(*)
               - (sum(x) / count(*)) * (sum(x) / count(*)) AS v
      FROM daily GROUP BY 1
    )
    SELECT event_type, n_days,
           floor(mu * 1e6 + 0.5) / 1e6 AS mean_q,
           floor(v * 1e6 + 0.5) / 1e6 AS var_q,
           CASE WHEN v > mu
                THEN floor(mu * mu / (v - mu) * 1e6 + 0.5) / 1e6
                ELSE NULL END AS nb_r_q,
           CASE WHEN v > mu
                THEN floor(mu / v * 1e9 + 0.5) / 1e9
                ELSE NULL END AS nb_p_q,
           CASE WHEN v > mu THEN 'overdispersed_nb'
                ELSE 'poisson_or_under' END AS verdict
    FROM s ORDER BY event_type
    """,
)
def negbin_moments_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to each type's daily
    count distribution: r = μ²/(σ²−μ), p = μ/σ² — the parametric
    model behind dispersion_index_events' diagnostic (that query
    says "overdispersed"; this one hands you the NB(r,p) a capacity
    simulation actually needs). NULL parameters when the variance
    doesn't exceed the mean (NB undefined — Poisson already fits).
    One pass of power sums."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    x = F.col("x")
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (F.sum(x) / F.count(F.lit(1))).alias("mu"),
        (
            F.sum(x * x) / F.count(F.lit(1))
            - (F.sum(x) / F.count(F.lit(1))) * (F.sum(x) / F.count(F.lit(1)))
        ).alias("v"),
    )
    mu, v = F.col("mu"), F.col("v")
    return s.select(
        "event_type",
        "n_days",
        (F.floor(mu * 1e6 + 0.5) / 1e6).alias("mean_q"),
        (F.floor(v * 1e6 + 0.5) / 1e6).alias("var_q"),
        F.when(v > mu, F.floor(mu * mu / (v - mu) * 1e6 + 0.5) / 1e6)
        .otherwise(F.lit(None).cast("double"))
        .alias("nb_r_q"),
        F.when(v > mu, F.floor(mu / v * 1e9 + 0.5) / 1e9)
        .otherwise(F.lit(None).cast("double"))
        .alias("nb_p_q"),
        F.when(v > mu, F.lit("overdispersed_nb"))
        .otherwise(F.lit("poisson_or_under"))
        .alias("verdict"),
    ).orderBy("event_type")


def _absorption_oracle_sql(rounds: int = 8) -> str:
    """Unrolled bounded-horizon absorption fixpoint: a_k(s) =
    [s=purchase] + (s≠purchase)·Σ_t P(s,t)·a_{k−1}(t), k rounds.
    Transition edges are referenced every round → MATERIALIZED."""
    steps = []
    prev = "a0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""a{i} AS (
      SELECT s.state,
             CASE WHEN s.state = 'purchase' THEN 1.0
                  ELSE coalesce(x.acc, 0.0) END AS a
      FROM states s LEFT JOIN (
        SELECT e.src AS state, sum(e.p * r.a) AS acc
        FROM tp e JOIN {prev} r ON r.state = e.dst
        GROUP BY 1
      ) x ON x.state = s.state)"""
        )
        prev = f"a{i}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS k
      FROM events
    ),
    trans AS (
      SELECT a.event_type AS src, b.event_type AS dst,
             CAST(count(*) AS BIGINT) AS n
      FROM seq a JOIN seq b
        ON b.user_id = a.user_id AND b.k = a.k + 1
      GROUP BY 1, 2
    ),
    tp AS MATERIALIZED (
      SELECT src, dst, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src) AS p
      FROM trans
    ),
    states AS MATERIALIZED (
      SELECT DISTINCT src AS state FROM tp
      UNION SELECT DISTINCT dst FROM tp
    ),
    a0 AS (
      SELECT state, CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS a
      FROM states
    ),
    {chain}
    SELECT state, floor(a * 1e9 + 0.5) / 1e9 AS absorb8_q
    FROM {prev}
    ORDER BY state
    """


@_staged("markov_absorption_bounded", _absorption_oracle_sql())
def markov_absorption_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon absorption probability: from each event-type
    state, the chance the empirical user Markov chain reaches
    'purchase' within 8 transitions — the "how close is this state
    to money" score that event_transition_matrix (one step) and
    markov_perplexity (sequence likelihood) don't answer. The
    fixpoint a_k = 1_purchase + P·a_{k−1} unrolls into 8 CTE rounds
    (the pagerank device); the Spark loop runs on the types² edge
    frame with per-round checkpointing. Transition probabilities are
    exact-count ratios; 9dp quantization."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", "ts", "event_id").withColumn(
        "k", F.row_number().over(w)
    )
    a = seq.select("user_id", F.col("event_type").alias("src"),
                   F.col("k").alias("ka"))
    b = seq.select("user_id", F.col("event_type").alias("dst"),
                   F.col("k").alias("kb"))
    trans = (
        a.join(b, "user_id")
        .filter(F.col("kb") == F.col("ka") + 1)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wsrc = Window.partitionBy("src")
    tp = trans.select(
        "src",
        "dst",
        (F.col("n").cast("double") / F.sum("n").over(wsrc)).alias("p"),
    ).localCheckpoint(eager=True)
    states = (
        tp.select(F.col("src").alias("state"))
        .unionByName(tp.select(F.col("dst").alias("state")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    av = states.withColumn(
        "a", F.when(F.col("state") == "purchase", 1.0).otherwise(0.0)
    )
    for _ in range(8):
        acc = (
            tp.join(av.select(F.col("state").alias("dst"), "a"), "dst")
            .groupBy(F.col("src").alias("state"))
            .agg(F.sum(F.col("p") * F.col("a")).alias("acc"))
        )
        av = (
            states.join(acc, "state", "left")
            .select(
                "state",
                F.when(F.col("state") == "purchase", 1.0)
                .otherwise(F.coalesce(F.col("acc"), F.lit(0.0)))
                .alias("a"),
            )
            .localCheckpoint(eager=True)
        )
    return av.select(
        "state", (F.floor(F.col("a") * 1e9 + 0.5) / 1e9).alias("absorb8_q")
    ).orderBy("state")


def _alaw_oracle_sql() -> str:
    """Closed-form G.711 A-law encode∘decode quantizer, validated
    bit-exact against the numpy codec across the int16 domain.
    pcm = floor(s/8) must be an explicit floor — DuckDB's ``//``
    truncates toward zero where numpy's >>3 floors (negative
    samples diverge otherwise); lambdas forbid subqueries, so the
    segment CASE inlines at each use."""
    pcm = "CAST(floor(s / 8.0) AS BIGINT)"
    p = f"(CASE WHEN {pcm} >= 0 THEN {pcm} ELSE -{pcm} - 1 END)"
    seg = (
        f"(CASE WHEN {p} > 2047 THEN 7 WHEN {p} > 1023 THEN 6 "
        f"WHEN {p} > 511 THEN 5 WHEN {p} > 255 THEN 4 "
        f"WHEN {p} > 127 THEN 3 WHEN {p} > 63 THEN 2 "
        f"WHEN {p} > 31 THEN 1 ELSE 0 END)"
    )
    m = f"(({p} // (CASE WHEN {seg} < 2 THEN 2 ELSE 1 << {seg} END)) % 16)"
    t = (
        f"(CASE WHEN {seg} = 0 THEN {m} * 16 + 8 "
        f"ELSE ({m} * 16 + 264) * (1 << ({seg} - 1)) END)"
    )
    dec = f"(CASE WHEN {pcm} >= 0 THEN {t} ELSE -{t} END)"
    return f"""
    WITH base AS (
      SELECT doc_id,
             CAST(25 + doc_id % 45 AS BIGINT) AS n,
             list_transform(range(0, CAST(25 + doc_id % 45 AS BIGINT)),
                            i -> (doc_id * 61 + i * 89) % 65536 - 32768) AS sam
      FROM documents
    ),
    dec AS (
      SELECT doc_id, n, list_transform(sam, s -> {dec}) AS d
      FROM base
    )
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           n AS n_frames,
           n * 1000 // 8000 AS duration_ms,
           CAST(list_sum(list_transform(d, x -> abs(x))) AS BIGINT) AS amp_sum,
           CAST(list_sum(list_transform(range(1, CAST(n AS INT)),
                i -> CASE WHEN (d[i] >= 0) != (d[i+1] >= 0) THEN 1 ELSE 0 END))
                AS BIGINT) AS zero_crossings
    FROM dec
    """


@_staged("audio_alaw_features", _alaw_oracle_sql())
def audio_alaw_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 A-law (the European/E1 telephony companion to
    audio_g711_features' µ-law): per doc an int16 waveform is
    compressed to 8-bit A-law RIFF/WAVE (format code 6 — spec
    anchors 0→0xD5, +max→0xAA, −max→0x2A pinned in tests), expanded
    back to linear PCM by the WAV parser inside mapInPandas, and the
    decoded signal's integer-exact features emitted. The oracle
    replays the CCITT quantizer (13-bit floor(s/8) fold, segment
    MSB, 4-bit mantissa, midpoint expansion) in closed form,
    validated bit-exact against the numpy codec over the whole
    int16 domain."""
    from dbt_lakehouse_aws_spark.llmops.multimodal import (
        encode_wav_alaw,
        extract_audio_features,
    )

    def make_payloads(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n = 25 + doc_id % 45
                sam = (
                    (doc_id * 61 + np.arange(n, dtype=np.int64) * 89) % 65536
                    - 32768
                )
                payloads.append(encode_wav_alaw(sam, 8000))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    d = T(spark, sf_dir, "documents").select("doc_id")
    payloads = d.mapInPandas(make_payloads, "doc_id long, payload binary")
    return extract_audio_features(payloads)


@_staged(
    "point_in_polygon_customers",
    """
    WITH pts AS (
      SELECT c_custkey, c_mktsegment AS segment,
             (c_custkey * 7919) % 1000 AS px,
             (c_custkey * 104729) % 1000 AS py
      FROM customer
    ),
    edges AS (
      SELECT * FROM (VALUES
        (100, 100, 500, 300), (500, 300, 900, 100), (900, 100, 700, 500),
        (700, 500, 900, 900), (900, 900, 500, 700), (500, 700, 100, 900),
        (100, 900, 300, 500), (300, 500, 100, 100)
      ) AS e(x1, y1, x2, y2)
    ),
    cross_counts AS (
      SELECT p.c_custkey, p.segment,
             sum(CASE WHEN (e.y1 > p.py) != (e.y2 > p.py)
                       AND (CASE WHEN e.y2 - e.y1 > 0
                            THEN (p.px - e.x1) * (e.y2 - e.y1)
                               < (e.x2 - e.x1) * (p.py - e.y1)
                            ELSE (p.px - e.x1) * (e.y2 - e.y1)
                               > (e.x2 - e.x1) * (p.py - e.y1) END)
                      THEN 1 ELSE 0 END) AS crossings
      FROM pts p CROSS JOIN edges e
      GROUP BY 1, 2
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(crossings % 2) AS BIGINT) AS n_inside,
           floor(sum(crossings % 2) * 1.0 / count(*) * 1e6 + 0.5) / 1e6
             AS inside_share_q
    FROM cross_counts
    GROUP BY 1 ORDER BY 1
    """,
)
def point_in_polygon_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon containment by ray casting against a
    non-convex 8-gon — the geofencing primitive the spatial family
    (grid-NN, proximity join, travel distance) lacks: per customer a
    deterministic grid point, per edge the horizontal-ray crossing
    test in EXACT INTEGER cross-multiplication (no float slopes, so
    both engines agree bit-for-bit), inside = odd crossings. The
    polygon is an 8-row broadcast literal: the fan-out is points x
    edges with all arithmetic inside one aggregate — the shape that
    scales to any point count (and to real polygons via an edge
    table)."""
    c = T(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        ((F.col("c_custkey") * 7919) % 1000).alias("px"),
        ((F.col("c_custkey") * 104729) % 1000).alias("py"),
    )
    verts = [
        (100, 100), (500, 300), (900, 100), (700, 500),
        (900, 900), (500, 700), (100, 900), (300, 500),
    ]
    edges = spark.createDataFrame(
        [(*a, *b) for a, b in zip(verts, verts[1:] + verts[:1])],
        "x1 long, y1 long, x2 long, y2 long",
    )
    spans = (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    lhs = (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    rhs = (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1"))
    crossing = F.when(
        spans
        & F.when(F.col("y2") - F.col("y1") > 0, lhs < rhs).otherwise(lhs > rhs),
        1,
    ).otherwise(0)
    cc = (
        pts.crossJoin(F.broadcast(edges))
        .groupBy("c_custkey", "segment")
        .agg(F.sum(crossing).alias("crossings"))
    )
    inside = F.col("crossings") % 2
    return (
        cc.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(inside).cast("long").alias("n_inside"),
            (
                F.floor(
                    F.sum(inside) * 1.0 / F.count(F.lit(1)) * 1e6 + 0.5
                )
                / 1e6
            ).alias("inside_share_q"),
        )
        .orderBy("segment")
    )


def _amort_oracle_sql(periods: int = 12) -> str:
    """Unrolled 12-period integer-exact amortization: per period,
    interest = floor(balance·rate_bp/10000 + 1/2) cents (expressed as
    (b·rbp + 5000) // 10000 — pure BIGINT), then the fixed payment
    reduces the balance. Each period is one chained CTE; everything
    replays exactly on both engines because no float ever appears."""
    steps = []
    prev = "p0"
    for k in range(1, periods + 1):
        steps.append(
            f"""p{k} AS (
      SELECT o_orderkey, rbp, pmt,
             bal + (bal * rbp + 5000) // 10000 - pmt AS bal,
             interest_sum + (bal * rbp + 5000) // 10000 AS interest_sum
      FROM {prev})"""
        )
        prev = f"p{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH loans AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS principal,
             CAST(40 + o_custkey % 40 AS BIGINT) AS rbp
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    p0 AS (
      SELECT o_orderkey, rbp,
             (principal + 11) // 12 + (principal * rbp + 5000) // 10000 AS pmt,
             principal AS bal,
             CAST(0 AS BIGINT) AS interest_sum
      FROM loans
    ),
    {chain}
    SELECT CAST(count(*) AS BIGINT) AS n_loans,
           CAST(sum(pmt) AS BIGINT) AS pmt_cents,
           CAST(sum(interest_sum) AS BIGINT) AS interest_cents,
           CAST(sum(bal) AS BIGINT) AS residual_cents,
           CAST(max(abs(bal)) AS BIGINT) AS max_abs_residual
    FROM {prev}
    """


@_staged("amortization_12_orders", _amort_oracle_sql())
def amortization_12_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-period loan amortization over an order cohort (every 11th
    order financed at 0.40-0.79% monthly): per period the balance
    accrues half-up-rounded interest in EXACT CENT ARITHMETIC
    ((bal·rate_bp + 5000) // 10000 — no float ever enters) and the
    fixed payment (principal/12 rounded up + first-period interest)
    amortizes it. The recursion unrolls into 12 chained CTEs (the
    fixpoint device); the Spark loop folds the same per-period
    columns with lineage truncation. Portfolio summary: total
    payments, total interest, residual after 12 periods (small and
    negative-ish by construction of the rounded-up payment) — the
    ledger arithmetic a billing pipeline must reproduce to the
    cent."""
    o = T(spark, sf_dir, "orders")
    loans = o.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("principal"),
        (40 + F.col("o_custkey") % 40).cast("long").alias("rbp"),
    )
    first_int = (F.col("principal") * F.col("rbp") + 5000) / 10000
    p = loans.select(
        "o_orderkey",
        "rbp",
        (
            F.floor((F.col("principal") + 11) / 12)
            + F.floor(first_int)
        ).cast("long").alias("pmt"),
        F.col("principal").alias("bal"),
        F.lit(0).cast("long").alias("interest_sum"),
    )
    for _ in range(12):
        interest = F.floor((F.col("bal") * F.col("rbp") + 5000) / 10000).cast(
            "long"
        )
        p = p.select(
            "o_orderkey",
            "rbp",
            "pmt",
            (F.col("bal") + interest - F.col("pmt")).alias("bal"),
            (F.col("interest_sum") + interest).alias("interest_sum"),
        )
    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_loans"),
        F.sum("pmt").cast("long").alias("pmt_cents"),
        F.sum("interest_sum").cast("long").alias("interest_cents"),
        F.sum("bal").cast("long").alias("residual_cents"),
        F.max(F.abs(F.col("bal"))).cast("long").alias("max_abs_residual"),
    )


@_staged(
    "rev_rec_monthly_orders",
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS d0
      FROM orders
    ),
    months AS (
      SELECT b.o_orderkey, b.cents, b.d0, m.m,
             date_trunc('month', b.d0 + CAST(m.m * 30 AS INTEGER)) AS month,
             greatest(b.d0, date_trunc('month', b.d0 + CAST(m.m * 30 AS INTEGER))) AS lo,
             least(b.d0 + CAST(90 AS INTEGER),
                   date_trunc('month', b.d0 + CAST(m.m * 30 AS INTEGER))
                     + INTERVAL 1 MONTH) AS hi
      FROM base b CROSS JOIN (SELECT unnest(range(0, 4)) AS m) m
    ),
    spans AS (
      SELECT o_orderkey, cents, month,
             CAST(date_diff('day', lo, CAST(hi AS DATE)) AS BIGINT) AS days
      FROM months
      WHERE date_diff('day', lo, CAST(hi AS DATE)) > 0
        AND month > date_trunc('month', d0) - INTERVAL 1 DAY
    ),
    alloc AS (
      SELECT o_orderkey, month,
             cents * days // 90 AS rec_cents
      FROM spans
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(rec_cents) AS BIGINT) AS recognized_cents
    FROM alloc
    GROUP BY 1 ORDER BY 1
    """,
)
def rev_rec_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue recognition: each order's price recognizes ratably
    over a 90-day service term, day-weighted into calendar months
    (ASC 606's time-based method) — the accounting view none of the
    revenue queries (time_weekly_revenue, mom_revenue_change) model:
    booking month ≠ revenue month. Each order fans out onto at most
    4 calendar months; per month the overlap days with
    [orderdate, orderdate+90) scale cents·days//90 in exact integer
    arithmetic (floor allocation — the conservative recognizer; the
    residual cents recognize implicitly with the final day bucket's
    floor). Everything is one bounded fan-out + a hash aggregate."""
    o = T(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.to_date("o_orderdate").alias("d0"),
    )
    months = base.select(
        "o_orderkey",
        "cents",
        "d0",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("m"),
    ).select(
        "o_orderkey",
        "cents",
        "d0",
        F.date_trunc("month", F.date_add(F.col("d0"), F.col("m") * 30))
        .cast("date")
        .alias("month"),
    )
    lo = F.greatest(F.col("d0"), F.col("month"))
    hi = F.least(
        F.date_add(F.col("d0"), 90), F.add_months(F.col("month"), 1)
    )
    spans = months.select(
        "o_orderkey",
        "cents",
        "d0",
        "month",
        F.datediff(hi, lo).cast("long").alias("days"),
    ).filter(
        (F.col("days") > 0)
        & (F.col("month") >= F.date_trunc("month", F.col("d0")).cast("date"))
    )
    alloc = spans.select(
        "o_orderkey",
        "month",
        F.expr("cents * days div 90").alias("rec_cents"),
    )
    return (
        alloc.groupBy("month")
        .agg(
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
            F.sum("rec_cents").cast("long").alias("recognized_cents"),
        )
        .orderBy("month")
    )


@_staged(
    "dim_truncation_recall_embeddings",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS v_q FROM v WHERE vec_id < 10),
    full_rank AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.v_q, c.emb)
                       / (sqrt(list_dot_product(q.v_q, q.v_q))
                          * sqrt(list_dot_product(c.emb, c.emb))), 6) DESC,
                 c.vec_id ASC) AS rk
        FROM q, v c WHERE c.vec_id <> q.query_id
      ) WHERE rk <= 5
    ),
    t8 AS (SELECT vec_id, list_slice(emb, 1, 8) AS emb FROM v),
    q8 AS (SELECT vec_id AS query_id, emb AS v_q FROM t8 WHERE vec_id < 10),
    rank8 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.v_q, c.emb)
                       / (sqrt(list_dot_product(q.v_q, q.v_q))
                          * sqrt(list_dot_product(c.emb, c.emb))), 6) DESC,
                 c.vec_id ASC) AS rk
        FROM q8 q, t8 c WHERE c.vec_id <> q.query_id
      ) WHERE rk <= 5
    ),
    t16 AS (SELECT vec_id, list_slice(emb, 1, 16) AS emb FROM v),
    q16 AS (SELECT vec_id AS query_id, emb AS v_q FROM t16 WHERE vec_id < 10),
    rank16 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 round(list_dot_product(q.v_q, c.emb)
                       / (sqrt(list_dot_product(q.v_q, q.v_q))
                          * sqrt(list_dot_product(c.emb, c.emb))), 6) DESC,
                 c.vec_id ASC) AS rk
        FROM q16 q, t16 c WHERE c.vec_id <> q.query_id
      ) WHERE rk <= 5
    )
    SELECT f.query_id,
           CAST(count(r8.neighbor_id) AS BIGINT) AS hits8,
           CAST(count(r16.neighbor_id) AS BIGINT) AS hits16,
           floor(count(r8.neighbor_id) / 5.0 * 1e6 + 0.5) / 1e6 AS recall8_q,
           floor(count(r16.neighbor_id) / 5.0 * 1e6 + 0.5) / 1e6 AS recall16_q
    FROM full_rank f
    LEFT JOIN rank8 r8 ON r8.query_id = f.query_id
                      AND r8.neighbor_id = f.neighbor_id
    LEFT JOIN rank16 r16 ON r16.query_id = f.query_id
                        AND r16.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
)
def dim_truncation_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation study: for each query
    vector, recall@5 of the 8-dim and 16-dim PREFIX cosine rankings
    against the full 64-dim ground truth — the measurement that
    decides whether a Matryoshka index can serve the first-stage
    retrieval (8 dims = 8x less memory bandwidth) with the full
    vector only re-ranking. Reuses the exact cosine_topk operator on
    sliced embeddings; the oracle replays all three rankings and the
    per-query overlap. int8 quantization (int8_quant_topk) covers
    the precision axis; this covers the dimension axis."""
    from dbt_lakehouse_aws_spark.llmops.similarity import cosine_topk

    e = T(spark, sf_dir, "embeddings")
    full = cosine_topk(e, query_ids=range(10), k=5).select(
        "query_id", "neighbor_id"
    )
    r8 = cosine_topk(
        e.withColumn("embedding", F.slice("embedding", 1, 8)),
        query_ids=range(10), k=5,
    ).select("query_id", F.col("neighbor_id").alias("n8"))
    r16 = cosine_topk(
        e.withColumn("embedding", F.slice("embedding", 1, 16)),
        query_ids=range(10), k=5,
    ).select("query_id", F.col("neighbor_id").alias("n16"))
    j = (
        full.join(
            r8,
            (full["query_id"] == r8["query_id"])
            & (full["neighbor_id"] == r8["n8"]),
            "left",
        )
        .drop(r8["query_id"])
        .join(
            r16,
            (full["query_id"] == r16["query_id"])
            & (full["neighbor_id"] == r16["n16"]),
            "left",
        )
        .drop(r16["query_id"])
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count("n8").cast("long").alias("hits8"),
            F.count("n16").cast("long").alias("hits16"),
            (F.floor(F.count("n8") / 5.0 * 1e6 + 0.5) / 1e6).alias("recall8_q"),
            (F.floor(F.count("n16") / 5.0 * 1e6 + 0.5) / 1e6).alias(
                "recall16_q"
            ),
        )
        .orderBy("query_id")
    )


def _mmr_oracle_sql(k: int = 5, lam: float = 0.7) -> str:
    """Unrolled greedy MMR selection: round 1 picks pure relevance;
    each later round picks argmax lam*rel − (1−lam)*max-sim-to-
    selected over the remaining candidates (ties by vec_id). cand
    and the candidate-pair sim matrix are referenced every round →
    MATERIALIZED."""
    steps = [
        "sel1 AS MATERIALIZED (SELECT vec_id, rel AS score FROM cand "
        "ORDER BY rel DESC, vec_id ASC LIMIT 1)"
    ]
    union = "SELECT vec_id FROM sel1"
    for i in range(2, k + 1):
        steps.append(
            f"""score{i} AS (
      SELECT c.vec_id,
             {lam} * c.rel - {round(1 - lam, 10)} * max(s.sim) AS score
      FROM cand c
      JOIN simmat s ON s.a = c.vec_id
      WHERE s.b IN ({union}) AND c.vec_id NOT IN ({union})
      GROUP BY c.vec_id, c.rel),
    sel{i} AS MATERIALIZED (
      SELECT vec_id, score FROM score{i}
      ORDER BY score DESC, vec_id ASC LIMIT 1)"""
        )
        union += f" UNION ALL SELECT vec_id FROM sel{i}"
    chain = ",\n    ".join(steps)
    picks = "\n      UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, score FROM sel{i}" for i in range(1, k + 1)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT emb AS v_q FROM v WHERE vec_id = 0),
    cand AS MATERIALIZED (
      SELECT vec_id, rel FROM (
        SELECT c.vec_id,
               round(list_dot_product(q.v_q, c.emb)
                     / (sqrt(list_dot_product(q.v_q, q.v_q))
                        * sqrt(list_dot_product(c.emb, c.emb))), 6) AS rel,
               row_number() OVER (ORDER BY
                 round(list_dot_product(q.v_q, c.emb)
                       / (sqrt(list_dot_product(q.v_q, q.v_q))
                          * sqrt(list_dot_product(c.emb, c.emb))), 6) DESC,
                 c.vec_id ASC) AS rk
        FROM v c, q WHERE c.vec_id <> 0
      ) WHERE rk <= 10
    ),
    simmat AS MATERIALIZED (
      SELECT x.vec_id AS a, y.vec_id AS b,
             round(list_dot_product(vx.emb, vy.emb)
                   / (sqrt(list_dot_product(vx.emb, vx.emb))
                      * sqrt(list_dot_product(vy.emb, vy.emb))), 6) AS sim
      FROM cand x JOIN cand y ON y.vec_id <> x.vec_id
      JOIN v vx ON vx.vec_id = x.vec_id
      JOIN v vy ON vy.vec_id = y.vec_id
    ),
    {chain}
    SELECT CAST(rank AS BIGINT) AS rank, vec_id,
           floor(score * 1e6 + 0.5) / 1e6 AS score_q
    FROM ({picks})
    ORDER BY rank
    """


@_staged("mmr_rerank_embeddings", _mmr_oracle_sql())
def mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity-aware result-page operator the retrieval
    family lacks (hybrid_search_rrf fuses rankings; MMR de-dupes
    them): from the top-10 cosine candidates for query vector 0,
    greedily pick 5, each round maximizing λ·relevance −
    (1−λ)·max-similarity-to-already-picked (λ=0.7, ties by vec_id).
    The candidate PAGE is bounded by construction (re-rank is a
    serving-side op on a top-N page), so the 5-round greedy loop
    joins 10-row frames; the oracle unrolls the same greedy argmax
    into chained CTEs. Relevance and the pair sims ride the exact
    rounded-cosine device."""
    from dbt_lakehouse_aws_spark.llmops.similarity import cosine_topk

    e = T(spark, sf_dir, "embeddings")
    cand = (
        cosine_topk(e, query_ids=[0], k=10)
        .select("neighbor_id", F.col("cosine").alias("rel"))
        .localCheckpoint(eager=True)
    )
    cand_ids = cand.select(F.col("neighbor_id").alias("vec_id"))
    ce = e.join(cand_ids, "vec_id").select("vec_id", "embedding")
    # pairwise sims among the 10 candidates (bounded page)
    pair = cosine_topk(ce, query_ids=None, k=9,
                       query_df=ce).select(
        F.col("query_id").alias("a"),
        F.col("neighbor_id").alias("b"),
        F.col("cosine").alias("sim"),
    ).localCheckpoint(eager=True)
    lam = 0.7
    picked = (
        cand.orderBy(F.desc("rel"), F.asc("neighbor_id"))
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("rank"),
            F.col("neighbor_id").alias("vec_id"),
            F.col("rel").alias("score"),
        )
        .localCheckpoint(eager=True)
    )
    for i in range(2, 6):
        sel_ids = picked.select("vec_id")
        remaining = cand.join(
            sel_ids, cand["neighbor_id"] == sel_ids["vec_id"], "left_anti"
        )
        scored = (
            remaining.join(pair, remaining["neighbor_id"] == pair["a"])
            .join(sel_ids.select(F.col("vec_id").alias("b")), "b")
            .groupBy("neighbor_id", "rel")
            .agg(F.max("sim").alias("maxsim"))
            .select(
                "neighbor_id",
                (lam * F.col("rel") - (1 - lam) * F.col("maxsim")).alias("score"),
            )
        )
        nxt = (
            scored.orderBy(F.desc("score"), F.asc("neighbor_id"))
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("rank"),
                F.col("neighbor_id").alias("vec_id"),
                "score",
            )
        )
        picked = picked.unionByName(nxt).localCheckpoint(eager=True)
    return picked.select(
        "rank", "vec_id", (F.floor(F.col("score") * 1e6 + 0.5) / 1e6).alias("score_q")
    ).orderBy("rank")


@_staged(
    "slo_burn_rate_events",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errors
      FROM events GROUP BY 1
    ),
    rates AS (
      SELECT h.hr, h.n, h.errors,
             CAST(sum(w6.errors) AS DOUBLE) / sum(w6.n) AS rate_6h
      FROM hourly h
      JOIN hourly w6 ON w6.hr > h.hr - INTERVAL 6 HOUR AND w6.hr <= h.hr
      GROUP BY h.hr, h.n, h.errors
    ),
    rates24 AS (
      SELECT h.hr,
             CAST(sum(w.errors) AS DOUBLE) / sum(w.n) AS rate_24h
      FROM hourly h
      JOIN hourly w ON w.hr > h.hr - INTERVAL 24 HOUR AND w.hr <= h.hr
      GROUP BY h.hr
    ),
    budget AS (
      SELECT CAST(sum(errors) AS DOUBLE) / sum(n) AS slo_err
      FROM hourly
    ),
    burn AS (
      SELECT r.hr, r.rate_6h / (SELECT slo_err FROM budget) AS burn_6h,
             r24.rate_24h / (SELECT slo_err FROM budget) AS burn_24h
      FROM rates r JOIN rates24 r24 ON r24.hr = r.hr
    )
    SELECT CAST(hr AS TIMESTAMP) AS hr,
           floor(burn_6h * 1e6 + 0.5) / 1e6 AS burn_6h_q,
           floor(burn_24h * 1e6 + 0.5) / 1e6 AS burn_24h_q,
           CASE WHEN burn_6h > 1.15 AND burn_24h > 1.05 THEN 'page'
                WHEN burn_6h > 1.08 THEN 'ticket' ELSE 'ok' END AS severity
    FROM burn
    WHERE (burn_6h > 1.15 AND burn_24h > 1.05) OR burn_6h > 1.08
    ORDER BY hr
    """,
)
def slo_burn_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window multi-burn-rate SLO alerting (the Google SRE
    workbook policy): per hour, the error-rate over the trailing 6h
    and 24h windows relative to the corpus-wide error budget; PAGE
    when both the fast and slow windows burn hot (rate spike that is
    also sustained), TICKET on the fast window alone. The trailing
    windows are NON-EQUI SELF-JOINS over the calendar-bounded hourly
    aggregate (the KM risk-table device) — no unpartitioned ordered
    window, so the plan holds at any event volume. Thresholds sit
    just above 1.0x budget so synthetic uniform traffic still
    surfaces its noisiest hours at every SF."""
    e = T(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("long")
        .alias("errors"),
    ).persist()
    w = hourly.select(
        F.col("hr").alias("whr"), F.col("n").alias("wn"),
        F.col("errors").alias("werr"),
    )

    def trailing(hours: int, out: str) -> DataFrame:
        return (
            hourly.join(
                F.broadcast(w),
                (F.col("whr") > F.col("hr") - F.expr(f"INTERVAL {hours} HOURS"))
                & (F.col("whr") <= F.col("hr")),
            )
            .groupBy("hr")
            .agg(
                (F.sum("werr").cast("double") / F.sum("wn")).alias(out)
            )
        )

    r6 = trailing(6, "rate_6h")
    r24 = trailing(24, "rate_24h")
    budget = hourly.agg(
        (F.sum("errors").cast("double") / F.sum("n")).alias("slo_err")
    )
    burn = (
        r6.join(r24, "hr")
        .crossJoin(F.broadcast(budget))
        .select(
            "hr",
            (F.col("rate_6h") / F.col("slo_err")).alias("burn_6h"),
            (F.col("rate_24h") / F.col("slo_err")).alias("burn_24h"),
        )
    )
    page = (F.col("burn_6h") > 1.15) & (F.col("burn_24h") > 1.05)
    ticket = F.col("burn_6h") > 1.08
    return (
        burn.filter(page | ticket)
        .select(
            "hr",
            (F.floor(F.col("burn_6h") * 1e6 + 0.5) / 1e6).alias("burn_6h_q"),
            (F.floor(F.col("burn_24h") * 1e6 + 0.5) / 1e6).alias("burn_24h_q"),
            F.when(page, F.lit("page"))
            .when(ticket, F.lit("ticket"))
            .otherwise(F.lit("ok"))
            .alias("severity"),
        )
        .orderBy("hr")
    )


@_staged(
    "qq_plot_orders",
    """
    WITH scored AS (
      SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
                  ELSE 'other' END AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    ranked AS (
      SELECT grp, cents,
             row_number() OVER (PARTITION BY grp
                                ORDER BY cents ASC, cents ASC) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM scored
    ),
    pcts AS (SELECT unnest(range(1, 20)) AS p),
    qs AS (
      SELECT r.grp, p.p, max(r.cents) AS q
      FROM ranked r JOIN pcts p
        ON r.rn = greatest(1, CAST(ceil(r.n * p.p / 20.0) AS BIGINT))
      GROUP BY r.grp, p.p
    )
    SELECT u.p AS pct_20th,
           u.q AS q_urgent_cents,
           o.q AS q_other_cents,
           floor(CAST(u.q AS DOUBLE) / o.q * 1e6 + 0.5) / 1e6 AS ratio_q
    FROM (SELECT p, q FROM qs WHERE grp = 'urgent') u
    JOIN (SELECT p, q FROM qs WHERE grp = 'other') o ON o.p = u.p
    ORDER BY pct_20th
    """,
)
def qq_plot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile comparison of urgent vs non-urgent order
    values at the 19 interior 20-quantiles (exact type-1
    percentile_disc: the ceil(n·p/20)-th order statistic per group)
    — the distribution-shape view behind ks_drift_order_values'
    scalar: WHERE the two distributions diverge, not just whether.
    Group ranks ride partitioned windows; each quantile is an
    equi-join on the rank index, exact integer cents until the final
    ratio."""
    o = T(spark, sf_dir, "orders")
    scored = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "urgent")
        .otherwise("other")
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    wr = Window.partitionBy("grp").orderBy(F.col("cents").asc())
    wn = Window.partitionBy("grp")
    ranked = scored.select(
        "grp",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pcts = spark.range(1, 20).select(F.col("id").alias("p"))
    qs = (
        ranked.join(
            F.broadcast(pcts),
            F.col("rn")
            == F.greatest(
                F.lit(1),
                F.ceil(F.col("n") * F.col("p") / 20.0).cast("long"),
            ),
        )
        .groupBy("grp", "p")
        .agg(F.max("cents").alias("q"))
    )
    u = qs.filter(F.col("grp") == "urgent").select(
        F.col("p").alias("pct_20th"), F.col("q").alias("q_urgent_cents")
    )
    ot = qs.filter(F.col("grp") == "other").select(
        F.col("p").alias("pct_20th"), F.col("q").alias("q_other_cents")
    )
    return (
        u.join(ot, "pct_20th")
        .select(
            "pct_20th",
            "q_urgent_cents",
            "q_other_cents",
            (
                F.floor(
                    F.col("q_urgent_cents").cast("double")
                    / F.col("q_other_cents")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("ratio_q"),
        )
        .orderBy("pct_20th")
    )


@_staged(
    "rolling_ols_14d_events",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS di,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    roll AS (
      SELECT event_type, di, cents,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(sum(di) OVER w AS BIGINT) AS sx,
             CAST(sum(cents) OVER w AS BIGINT) AS sy,
             CAST(sum(di * cents) OVER w AS BIGINT) AS sxy,
             CAST(sum(di * di) OVER w AS BIGINT) AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY di
                   RANGE BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    slopes AS (
      SELECT event_type, di, cents,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               AS slope
      FROM roll WHERE n = 14
    ),
    ranked AS (
      SELECT event_type, di, cents, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(slope) DESC, di ASC) AS rk
      FROM slopes
    )
    SELECT event_type, di AS day_idx, cents,
           floor(slope * 1e6 + 0.5) / 1e6 AS slope_q,
           CAST(rk AS BIGINT) AS rank
    FROM ranked WHERE rk <= 3
    ORDER BY event_type, rank
    """,
)
def rolling_ols_14d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day OLS revenue slope per event type — the LOCAL
    trend series behind theil_sen_trend_events' global slope and
    mann_kendall's global test: where in the quarter was each stream
    accelerating hardest? The regression sufficient statistics ride
    ONE partitioned RANGE window (exact BIGINT sums of cents and day
    indexes — map-side combinable, no per-day rescan); only full
    14-day windows qualify; top-3 |slope| days ship per type."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("di"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rangeBetween(-13, 0)
    )
    roll = daily.select(
        "event_type",
        "di",
        "cents",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("di").over(w).cast("long").alias("sx"),
        F.sum("cents").over(w).cast("long").alias("sy"),
        F.sum(F.col("di") * F.col("cents")).over(w).cast("long").alias("sxy"),
        F.sum(F.col("di") * F.col("di")).over(w).cast("long").alias("sxx"),
    ).filter(F.col("n") == 14)
    slope = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    slopes = roll.withColumn("slope", slope)
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("slope")).desc(), F.col("di").asc()
    )
    return (
        slopes.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            F.col("di").alias("day_idx"),
            "cents",
            (F.floor(F.col("slope") * 1e6 + 0.5) / 1e6).alias("slope_q"),
            F.col("rk").cast("long").alias("rank"),
        )
        .orderBy("event_type", "rank")
    )


@_staged(
    "audio_silence_segments",
    """
    WITH base AS (
      SELECT doc_id,
             CAST(120 + (doc_id % 3) * 40 AS BIGINT) AS n,
             list_transform(range(0, CAST(120 + (doc_id % 3) * 40 AS BIGINT)),
               i -> CASE WHEN ((i // 20) % 3) = 0
                         THEN (doc_id + i) % 7 - 3
                         ELSE (doc_id * 41 + i * 73) % 20000 - 10000 END) AS sam
      FROM documents
    ),
    frames AS (
      SELECT doc_id, n, f.f AS frame_idx,
             list_sum(list_transform(
               list_slice(sam, CAST(f.f * 10 + 1 AS BIGINT),
                          CAST(f.f * 10 + 10 AS BIGINT)),
               x -> x * x)) AS sumsq
      FROM base
      CROSS JOIN LATERAL (SELECT unnest(range(0, CAST(n // 10 AS BIGINT))) AS f) f
    ),
    flags AS (
      SELECT doc_id, frame_idx,
             CASE WHEN sumsq < 1000 THEN 1 ELSE 0 END AS silent
      FROM frames
    ),
    runs AS (
      SELECT doc_id, frame_idx, silent,
             frame_idx - row_number() OVER (PARTITION BY doc_id, silent
                                            ORDER BY frame_idx) AS grp
      FROM flags
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE silent = 1) AS BIGINT)
             AS n_silent_frames,
           CAST(count(DISTINCT CASE WHEN silent = 1 THEN grp END) AS BIGINT)
             AS n_silent_segments,
           CAST(count(*) AS BIGINT) AS n_frames
    FROM runs
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence segmentation — the voice-activity-detection primitive
    on top of the REAL audio path: per doc a waveform with
    deterministic quiet stretches is encoded to genuine PCM16
    RIFF/WAVE, decoded back by the pure-numpy WAV parser inside
    mapInPandas, split into 10-sample frames, and each frame's
    energy (Σx²) classified silent below threshold; consecutive
    silent frames collapse into SEGMENTS (the unit a
    speech-dataset curator actually counts) via gaps-and-islands.
    The oracle replays frame slicing and energy classification in
    closed form over the same synthetic samples."""
    from dbt_lakehouse_aws_spark.llmops.multimodal import (
        decode_wav,
        encode_wav,
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                n = 120 + (doc_id % 3) * 40
                i = np.arange(n, dtype=np.int64)
                quiet = ((i // 20) % 3) == 0
                sam = np.where(
                    quiet,
                    (doc_id + i) % 7 - 3,
                    (doc_id * 41 + i * 73) % 20000 - 10000,
                )
                decoded = decode_wav(encode_wav(sam.astype("<i2"), 8000))[
                    "samples"
                ][:, 0].astype(np.int64)
                nf = n // 10
                frames = decoded[: nf * 10].reshape(nf, 10)
                energy = (frames * frames).sum(axis=1)
                silent = energy < 1000
                # a segment starts at frame 0 if silent, or wherever
                # silent follows non-silent
                segments = int(silent[0]) + int(
                    (silent[1:] & ~silent[:-1]).sum()
                )
                out.append(
                    (
                        int(doc_id),
                        int(silent.sum()),
                        segments,
                        nf,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "n_silent_frames",
                    "n_silent_segments",
                    "n_frames",
                ],
            )

    d = T(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        run,
        "doc_id long, n_silent_frames long, n_silent_segments long, n_frames long",
    ).orderBy("doc_id")


@_staged(
    "image_contrast_features",
    """
    WITH base AS (
      SELECT doc_id,
             CAST(4 + doc_id % 9 AS BIGINT) AS w,
             CAST(3 + doc_id % 5 AS BIGINT) AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, w, h, w * h AS npx,
             list_transform(range(0, CAST(w * h AS BIGINT)),
                            i -> (doc_id * 37 + i * 11) % 256) AS gray
      FROM base
    ),
    hist AS (
      SELECT doc_id, npx,
             CAST(list_min(gray) AS BIGINT) AS g_min,
             CAST(list_max(gray) AS BIGINT) AS g_max,
             CAST(list_sum(gray) AS BIGINT) AS g_sum,
             CAST(len(list_distinct(gray)) AS BIGINT) AS n_levels
      FROM px
    ),
    stretched AS (
      SELECT p.doc_id, h.npx, h.g_min, h.g_max, h.g_sum, h.n_levels,
             CAST(list_sum(list_transform(p.gray,
               g -> CASE WHEN h.g_max = h.g_min THEN 0
                    ELSE (g - h.g_min) * 255 // (h.g_max - h.g_min) END))
               AS BIGINT) AS stretched_sum
      FROM px p JOIN hist h ON h.doc_id = p.doc_id
    )
    SELECT doc_id, npx AS n_pixels, g_min, g_max, n_levels,
           g_sum AS gray_sum,
           stretched_sum,
           floor((g_max - g_min) / 255.0 * 1e6 + 0.5) / 1e6
             AS contrast_span_q
    FROM stretched
    ORDER BY doc_id
    """,
)
def image_contrast_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrast-stretch image processing on the REAL decode path:
    per doc a deterministic grayscale raster encodes to genuine
    24-bpp BMP bytes, the pure-numpy BMP decoder reads the pixels
    back inside mapInPandas, and min-max contrast stretching
    ((g−min)·255//(max−min), the preprocessing normalizer every
    vision pipeline runs before augmentation) is applied to the
    DECODED pixels — emitting exact integer histogram features and
    the stretched checksum. A green row proves pixels, not headers,
    round-tripped (any decoder bit-slip shifts gray_sum AND
    stretched_sum). Complements image_decode_features (codec
    breadth) and image_ahash_fingerprints (perceptual hash) with
    the PROCESSING step."""
    from dbt_lakehouse_aws_spark.llmops.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                w = 4 + doc_id % 9
                h = 3 + doc_id % 5
                npx = w * h
                gray = ((doc_id * 37 + np.arange(npx, dtype=np.int64) * 11)
                        % 256)
                rgb = np.repeat(gray, 3).reshape(h, w, 3).astype(np.uint8)
                decoded = decode_bmp(encode_bmp(rgb))
                g = decoded[:, :, 0].astype(np.int64).reshape(-1)
                g_min, g_max = int(g.min()), int(g.max())
                if g_max == g_min:
                    st = np.zeros_like(g)
                else:
                    st = (g - g_min) * 255 // (g_max - g_min)
                out.append(
                    (
                        int(doc_id),
                        int(npx),
                        g_min,
                        g_max,
                        int(np.unique(g).size),
                        int(g.sum()),
                        int(st.sum()),
                        float(np.floor((g_max - g_min) / 255.0 * 1e6 + 0.5) / 1e6),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "n_pixels", "g_min", "g_max", "n_levels",
                    "gray_sum", "stretched_sum", "contrast_span_q",
                ],
            )

    d = T(spark, sf_dir, "documents").select("doc_id")
    schema = (
        "doc_id long, n_pixels long, g_min long, g_max long, n_levels long, "
        "gray_sum long, stretched_sum long, contrast_span_q double"
    )
    return d.mapInPandas(run, schema).orderBy("doc_id")


@_staged(
    "kendalls_w_weekday_events",
    """
    WITH cells AS (
      SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS wd,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranks AS (
      SELECT event_type, wd,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY n DESC, wd ASC) AS BIGINT) AS r
      FROM cells
    ),
    sums AS (
      SELECT wd, CAST(sum(r) AS BIGINT) AS rsum FROM ranks GROUP BY 1
    ),
    m AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS m FROM cells),
    s AS (
      SELECT sum((rsum - (SELECT m FROM m) * 4.0)
                 * (rsum - (SELECT m FROM m) * 4.0)) AS s
      FROM sums
    )
    SELECT (SELECT m FROM m) AS n_judges,
           CAST(7 AS BIGINT) AS n_items,
           floor((SELECT s FROM s) * 1e6 + 0.5) / 1e6 AS s_q,
           floor(12.0 * (SELECT s FROM s)
                 / ((SELECT m FROM m) * (SELECT m FROM m) * 336.0)
                 * 1e6 + 0.5) / 1e6 AS kendalls_w_q
    """,
)
def kendalls_w_weekday_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W: do the event types
    (judges) agree on how the seven weekdays (items) rank by
    traffic? W = 12S / (m²(n³−n)) with S the variance of weekday
    rank-sums around m(n+1)/2 = 4m — the multi-rater agreement
    scalar next to weighted_kappa_quality's two-rater kappa. Ranks
    are deterministic (count DESC, weekday ASC tiebreak) on the
    types×7 cell frame; n³−n = 336 folds constant."""
    e = T(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        (F.weekday(F.to_date("ts")) + 1).cast("long").alias("wd"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wr = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("wd").asc()
    )
    ranks = cells.select(
        "event_type", "wd", F.row_number().over(wr).cast("long").alias("r")
    )
    sums = ranks.groupBy("wd").agg(F.sum("r").cast("long").alias("rsum"))
    m = cells.agg(F.countDistinct("event_type").cast("long").alias("m"))
    j = sums.crossJoin(F.broadcast(m))
    dev = F.col("rsum") - F.col("m") * 4.0
    s = j.groupBy("m").agg(F.sum(dev * dev).alias("s"))
    return s.select(
        F.col("m").alias("n_judges"),
        F.lit(7).cast("long").alias("n_items"),
        (F.floor(F.col("s") * 1e6 + 0.5) / 1e6).alias("s_q"),
        (
            F.floor(
                12.0 * F.col("s") / (F.col("m") * F.col("m") * 336.0) * 1e6
                + 0.5
            )
            / 1e6
        ).alias("kendalls_w_q"),
    )


@_staged(
    "topk_stability_parts",
    """
    WITH monthly AS (
      SELECT date_trunc('month', o.o_orderdate) AS mon, l.l_partkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT mon, l_partkey,
             CAST(row_number() OVER (PARTITION BY mon
                                     ORDER BY cents DESC, l_partkey ASC)
                  AS BIGINT) AS rk
      FROM monthly
    ),
    topk AS MATERIALIZED (
      SELECT mon, l_partkey, rk FROM ranked WHERE rk <= 10
    ),
    months AS (
      SELECT mon, lag(mon) OVER (ORDER BY mon) AS prev
      FROM (SELECT DISTINCT mon FROM topk)
    ),
    pairs AS (SELECT mon, prev FROM months WHERE prev IS NOT NULL),
    overlap AS (
      SELECT p.mon,
             CAST(count(*) AS BIGINT) AS inter
      FROM pairs p
      JOIN topk a ON a.mon = p.mon
      JOIN topk b ON b.mon = p.prev AND b.l_partkey = a.l_partkey
      GROUP BY 1
    ),
    rbo AS (
      SELECT p.mon,
             sum(0.1 * power(0.9, d.d - 1)
                 * (SELECT count(*) FROM topk a JOIN topk b
                    ON b.mon = p.prev AND b.l_partkey = a.l_partkey
                       AND a.rk <= d.d AND b.rk <= d.d
                    WHERE a.mon = p.mon) / d.d) AS rbo10
      FROM pairs p CROSS JOIN (SELECT unnest(range(1, 11)) AS d) d
      GROUP BY p.mon
    )
    SELECT CAST(p.mon AS DATE) AS month,
           coalesce(o.inter, 0) AS top10_overlap,
           floor(coalesce(o.inter, 0) / (20.0 - coalesce(o.inter, 0))
                 * 1e6 + 0.5) / 1e6 AS jaccard_q,
           floor(coalesce(r.rbo10, 0.0) * 1e6 + 0.5) / 1e6 AS rbo10_q
    FROM pairs p
    LEFT JOIN overlap o ON o.mon = p.mon
    LEFT JOIN rbo r ON r.mon = p.mon
    ORDER BY month
    """,
)
def topk_stability_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard stability: month-over-month top-10
    revenue-parts overlap as Jaccard AND truncated rank-biased
    overlap (RBO@10, p=0.9 — weights agreement at depth d by
    0.1·0.9^(d−1)·|A_d ∩ B_d|/d, so podium churn costs more than
    10th-place churn). The dashboard-churn metric behind
    wow_movers_event_types. Everything runs on the months×10
    leaderboard frame; the depth axis is a 10-row literal."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    monthly = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
            "l_partkey",
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    wr = Window.partitionBy("mon").orderBy(
        F.col("cents").desc(), F.col("l_partkey").asc()
    )
    topk = (
        monthly.withColumn("rk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("mon", "l_partkey", "rk")
        .localCheckpoint(eager=True)
    )
    mons = topk.select("mon").distinct()
    wm = Window.orderBy("mon")
    # months are a calendar axis (bounded); the lag window over the
    # distinct-month frame is fine at any SF
    from dbt_lakehouse_aws_spark.operators.windows import global_row_number

    midx = global_row_number(mons, [F.col("mon").asc()], name="mi")
    pairs = (
        midx.alias("a")
        .join(
            midx.alias("b"),
            F.col("b.mi") == F.col("a.mi") - 1,
        )
        .select(F.col("a.mon").alias("mon"), F.col("b.mon").alias("prev"))
    )
    # rename BOTH sides' part keys: deriving a and b from the same
    # frame leaves l_partkey == l_partkey trivially true (Spark
    # resolves the ambiguous self-join reference to one side)
    a = topk.select(F.col("mon").alias("amon"),
                    F.col("l_partkey").alias("pk_a"),
                    F.col("rk").alias("ark"))
    b = topk.select(F.col("mon").alias("bmon"),
                    F.col("l_partkey").alias("pk_b"),
                    F.col("rk").alias("brk"))
    matched = (
        pairs.join(a, pairs["mon"] == a["amon"])
        .join(b, (pairs["prev"] == b["bmon"]) & (F.col("pk_a") == F.col("pk_b")))
        .select("mon", "ark", "brk")
        .localCheckpoint(eager=True)
    )
    overlap = matched.groupBy("mon").agg(
        F.count(F.lit(1)).cast("long").alias("inter")
    )
    depth = spark.range(1, 11).select(F.col("id").alias("d"))
    rbo = (
        matched.crossJoin(F.broadcast(depth))
        .filter((F.col("ark") <= F.col("d")) & (F.col("brk") <= F.col("d")))
        .groupBy("mon", "d")
        .agg(F.count(F.lit(1)).alias("inter_d"))
        .select(
            "mon",
            (
                0.1
                * F.pow(F.lit(0.9), F.col("d") - 1)
                * F.col("inter_d")
                / F.col("d")
            ).alias("term"),
        )
        .groupBy("mon")
        .agg(F.sum("term").alias("rbo10"))
    )
    inter = F.coalesce(F.col("inter"), F.lit(0))
    return (
        pairs.select("mon")
        .join(overlap, "mon", "left")
        .join(rbo, "mon", "left")
        .select(
            F.col("mon").cast("date").alias("month"),
            inter.cast("long").alias("top10_overlap"),
            (
                F.floor(inter / (20.0 - inter) * 1e6 + 0.5) / 1e6
            ).alias("jaccard_q"),
            (
                F.floor(F.coalesce(F.col("rbo10"), F.lit(0.0)) * 1e6 + 0.5)
                / 1e6
            ).alias("rbo10_q"),
        )
        .orderBy("month")
    )


@_staged(
    "markov_entropy_rate_events",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS k
      FROM events
    ),
    trans AS (
      SELECT a.event_type AS src, b.event_type AS dst,
             CAST(count(*) AS BIGINT) AS n
      FROM seq a JOIN seq b
        ON b.user_id = a.user_id AND b.k = a.k + 1
      GROUP BY 1, 2
    ),
    srct AS (
      SELECT src, CAST(sum(n) AS BIGINT) AS ns FROM trans GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM trans),
    hcond AS (
      SELECT t.src, s.ns,
             -sum((CAST(t.n AS DOUBLE) / s.ns)
                  * ln(CAST(t.n AS DOUBLE) / s.ns)) AS h_src
      FROM trans t JOIN srct s ON s.src = t.src
      GROUP BY 1, 2
    )
    SELECT h.src AS state,
           h.ns AS n_transitions,
           floor(h.h_src * 1e6 + 0.5) / 1e6 AS h_state_q,
           floor((CAST(h.ns AS DOUBLE) / (SELECT nt FROM tot)) * h.h_src
                 * 1e6 + 0.5) / 1e6 AS h_contrib_q
    FROM hcond h
    ORDER BY state
    """,
)
def markov_entropy_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the empirical user event chain: per state the
    conditional next-step entropy H(next|s) = −Σ p(t|s)·ln p(t|s)
    and its stationary-weighted contribution to the chain's entropy
    rate Σ p(s)·H(next|s) — the predictability scalar behind
    markov_perplexity (that query scores SEQUENCES; this scores the
    CHAIN: a state with near-zero conditional entropy is a
    deterministic funnel step, a high one is a branch point). Exact
    transition counts; entropies are identical-order float sums over
    the types² frame."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", "ts", "event_id").withColumn(
        "k", F.row_number().over(w)
    )
    a = seq.select("user_id", F.col("event_type").alias("src"),
                   F.col("k").alias("ka"))
    b = seq.select("user_id", F.col("event_type").alias("dst"),
                   F.col("k").alias("kb"))
    trans = (
        a.join(b, "user_id")
        .filter(F.col("kb") == F.col("ka") + 1)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )
    srct = trans.groupBy("src").agg(F.sum("n").cast("long").alias("ns"))
    tot = trans.agg(F.sum("n").cast("long").alias("nt"))
    p = F.col("n").cast("double") / F.col("ns")
    hcond = (
        trans.join(srct, "src")
        .groupBy("src", "ns")
        .agg((-F.sum(p * F.log(p))).alias("h_src"))
    )
    return (
        hcond.crossJoin(F.broadcast(tot))
        .select(
            F.col("src").alias("state"),
            F.col("ns").alias("n_transitions"),
            (F.floor(F.col("h_src") * 1e6 + 0.5) / 1e6).alias("h_state_q"),
            (
                F.floor(
                    (F.col("ns").cast("double") / F.col("nt"))
                    * F.col("h_src")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("h_contrib_q"),
        )
        .orderBy("state")
    )


def _erlang_c_oracle_sql() -> str:
    """Erlang-C with the factorial sum unrolled via a 0..k-1 literal
    axis; k (agent count) is data-derived so the sum is a grouped
    aggregate, not a scalar unroll."""
    return """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    load AS (
      SELECT event_type,
             sum(CAST(n AS DOUBLE)) / count(*) * 0.05 AS a
      FROM hourly GROUP BY 1
    ),
    agents AS (
      SELECT event_type, a,
             CAST(ceil(a) + 2 AS BIGINT) AS k
      FROM load
    ),
    terms AS (
      SELECT g.event_type, g.a, g.k, i.i,
             power(g.a, i.i) / coalesce(list_aggregate(
               list_transform(range(1, CAST(i.i + 1 AS BIGINT)),
                              x -> CAST(x AS DOUBLE)), 'product'), 1.0)
               AS term
      FROM agents g
      CROSS JOIN (SELECT unnest(range(0, 30)) AS i) i
      WHERE i.i < g.k
    ),
    s AS (
      SELECT event_type, a, k, sum(term) AS denom_sum
      FROM terms GROUP BY 1, 2, 3
    ),
    ek AS (
      SELECT event_type, a, k, denom_sum,
             power(a, k) / list_aggregate(
               list_transform(range(1, CAST(k + 1 AS BIGINT)),
                              x -> CAST(x AS DOUBLE)), 'product')
               * (k / (k - a)) AS tail
      FROM s
    )
    SELECT event_type,
           floor(a * 1e6 + 0.5) / 1e6 AS offered_load_q,
           k AS n_agents,
           floor(tail / (denom_sum + tail) * 1e6 + 0.5) / 1e6
             AS p_wait_q,
           CASE WHEN tail / (denom_sum + tail) > 0.2 THEN 'understaffed'
                ELSE 'ok' END AS verdict
    FROM ek ORDER BY event_type
    """


@_staged("erlang_c_events", _erlang_c_oracle_sql())
def erlang_c_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing model per event stream: offered load A =
    mean hourly arrivals × 0.05 h handle time, k = ⌈A⌉+2 agents, and
    the probability an arrival must WAIT, P_wait = (A^k/k!)·k/(k−A)
    / (Σ_{i<k} A^i/i! + A^k/k!·k/(k−A)) — the queueing-theory
    capacity answer behind the SLO burn-rate alert (burn tells you
    it's on fire; Erlang-C tells you how many agents put it out).
    Factorials build from an explicit product chain on a bounded
    0..29 axis (k is small by construction), identical arithmetic
    both engines."""
    e = T(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    load = hourly.groupBy("event_type").agg(
        (F.sum(F.col("n").cast("double")) / F.count(F.lit(1)) * 0.05).alias("a")
    )
    agents = load.select(
        "event_type", "a", (F.ceil("a") + 2).cast("long").alias("k")
    )
    idx = spark.range(0, 30).select(F.col("id").alias("i"))
    fact = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("i")),
            lambda x: x.cast("double"),
        ),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    terms = (
        agents.crossJoin(F.broadcast(idx))
        .filter(F.col("i") < F.col("k"))
        .select(
            "event_type",
            "a",
            "k",
            (F.pow(F.col("a"), F.col("i")) / F.when(F.col("i") == 0, 1.0)
             .otherwise(fact)).alias("term"),
        )
    )
    s = terms.groupBy("event_type", "a", "k").agg(
        F.sum("term").alias("denom_sum")
    )
    factk = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("k")),
            lambda x: x.cast("double"),
        ),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    ek = s.withColumn(
        "tail",
        F.pow(F.col("a"), F.col("k"))
        / factk
        * (F.col("k") / (F.col("k") - F.col("a"))),
    )
    pw = F.col("tail") / (F.col("denom_sum") + F.col("tail"))
    return ek.select(
        "event_type",
        (F.floor(F.col("a") * 1e6 + 0.5) / 1e6).alias("offered_load_q"),
        F.col("k").alias("n_agents"),
        (F.floor(pw * 1e6 + 0.5) / 1e6).alias("p_wait_q"),
        F.when(pw > 0.2, F.lit("understaffed")).otherwise(F.lit("ok")).alias(
            "verdict"
        ),
    ).orderBy("event_type")


@_staged(
    "gmd_order_values",
    """
    WITH scored AS (
      SELECT c.c_mktsegment AS segment,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             o.o_orderkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
      SELECT segment, cents,
             CAST(row_number() OVER (PARTITION BY segment
                                     ORDER BY cents ASC, o_orderkey ASC)
                  AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) AS n
      FROM scored
    )
    SELECT segment,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(sum((2 * i - n - 1) * cents) AS BIGINT) AS weighted_sum,
           floor(2.0 * sum((2 * i - n - 1) * cents)
                 / (CAST(max(n) AS DOUBLE) * (max(n) - 1)) * 1e4 + 0.5) / 1e4
             AS gmd_cents_q,
           floor(sum((2 * i - n - 1) * cents)
                 / (CAST(max(n) AS DOUBLE) * (max(n) - 1))
                 / (sum(cents) / CAST(max(n) AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS gini_q
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
)
def gmd_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference per market segment — E|X−X'|, the
    L1 dispersion scalar (more robust than variance, unlike MAD it
    sees the whole distribution) via the RANK identity GMD =
    2·Σ(2i−n−1)·x_(i) / (n(n−1)): one partitioned rank window over
    exact cents, one aggregate — never the O(n²) pairwise form.
    The normalized half (GMD/2μ) is exactly the Gini coefficient,
    reported as a per-segment cross-check of
    gini_customer_revenue's customer-level curve."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    scored = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    wr = Window.partitionBy("segment").orderBy(
        F.col("cents").asc(), F.col("o_orderkey").asc()
    )
    wn = Window.partitionBy("segment")
    ranked = scored.select(
        "segment",
        "cents",
        F.row_number().over(wr).cast("long").alias("i"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    ws = F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("cents"))
    nn = F.max("n").cast("double")
    return (
        ranked.groupBy("segment")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            ws.cast("long").alias("weighted_sum"),
            (F.floor(2.0 * ws / (nn * (F.max("n") - 1)) * 1e4 + 0.5) / 1e4).alias(
                "gmd_cents_q"
            ),
            (
                F.floor(
                    ws / (nn * (F.max("n") - 1)) / (F.sum("cents") / nn) * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("gini_q"),
        )
        .orderBy("segment")
    )
