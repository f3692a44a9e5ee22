"""Round-5 queries, promoted from staging into the main registry.

These were implemented and pytest-verified during round 4 while the
round-4 driver window was frozen (VERDICT r3 item 3), then promoted
here at the start of round 5: each ``@register`` call below appends
to ``standard_queries._REGISTRY`` exactly like an in-file
registration — ``standard_queries`` imports this module before it
builds the driver window, so the names participate in ``queries()`` /
``oracle_sql()`` and the entry-contract/plan-lint suites like any
other query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_lakehouse_aws_spark.localframe import local_frame
from dbt_lakehouse_aws_spark.standard_queries import T, register

#: deterministic "dirty feed" of part names — char dropped or
#: transposed at a p_partkey-derived position; same expression runs
#: in Spark SQL and DuckDB (1-based substring, concat)
_DIRTY_NAME_SQL = """
    CASE p_partkey % 3
      WHEN 0 THEN p_name
      WHEN 1 THEN concat(substring(p_name, 1, p_partkey % (length(p_name) - 1)),
                         substring(p_name, p_partkey % (length(p_name) - 1) + 2))
      ELSE concat(substring(p_name, 1, p_partkey % (length(p_name) - 1)),
                  substring(p_name, p_partkey % (length(p_name) - 1) + 2, 1),
                  substring(p_name, p_partkey % (length(p_name) - 1) + 1, 1),
                  substring(p_name, p_partkey % (length(p_name) - 1) + 3))
    END
"""


#: composite blocking key for the linkage rows: every structured
#: field that survives entry errors (the dirty feed corrupts only the
#: name). Multi-key blocking is the standard design AND the 100 TB
#: lever: (brand, type, size) ≈ 7 500 blocks vs brand's 25, cutting
#: within-block JW pair volume ~300× at sf0.1 (49 s → ~2 s measured)
#: with pair completeness untouched — true matches share all three.
_LINK_BLOCK = ["p_brand", "p_type", "p_size"]
_LINK_BLOCK_SQL = (
    "p.p_brand = d.p_brand AND p.p_type = d.p_type AND p.p_size = d.p_size"
)


@register(
    "record_linkage_parts",
    f"""
    WITH dirty AS (
      SELECT p_partkey AS dirty_key, p_brand, p_type, p_size,
             {_DIRTY_NAME_SQL} AS dirty_name
      FROM part
    )
    SELECT p.p_partkey, d.dirty_key,
           round(jaro_winkler_similarity(p.p_name, d.dirty_name), 6) AS sim
    FROM part p JOIN dirty d ON {_LINK_BLOCK_SQL}
    WHERE round(jaro_winkler_similarity(p.p_name, d.dirty_name), 6) >= 0.92
    """,
)
def record_linkage_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage, clean catalog vs dirty feed: a
    deterministic typo generator (drop/transpose one character at a
    key-derived position) corrupts each part name; linkage blocks on
    the COMPOSITE of clean structured fields (brand, type, size — the
    classic design: block on what survives entry errors, and every
    additional key multiplies block count), scores within-block
    candidates with Arrow-batched Jaro-Winkler, keeps sim ≥ 0.92. The
    kernel is bit-identical to DuckDB's ``jaro_winkler_similarity``
    (calibrated rapidfuzz convention — llmops/linkage.py), which is
    what makes a FULL value oracle possible for a fuzzy-similarity
    operator."""
    from dbt_lakehouse_aws_spark.llmops.linkage import jw_linkage

    p = T(spark, sf_dir, "part")
    blk = F.concat_ws("|", *_LINK_BLOCK)
    clean = p.select("p_partkey", "p_name", blk.alias("blk"))
    dirty = p.select(
        F.col("p_partkey").alias("dirty_key"),
        F.expr(_DIRTY_NAME_SQL).alias("dirty_name"),
        blk.alias("blk"),
    )
    return jw_linkage(
        clean,
        dirty,
        left_id="p_partkey",
        right_id="dirty_key",
        left_text="p_name",
        right_text="dirty_name",
        block_col="blk",
        threshold=0.92,
    )


@register(
    "orc_roundtrip_events",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(round(value, 2)), 2) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def orc_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC storage roundtrip: the events table is written to ORC
    (Spark-native columnar writer — zlib striped, predicate-pushdown
    capable like parquet) and read back, and the aggregate over the
    READ-BACK copy must match the oracle computed over the original
    parquet — value-proving the format conversion end to end. DuckDB
    cannot read ORC, which is exactly why the oracle aggregates the
    source instead: lossless roundtrip ⇒ identical aggregates."""
    import tempfile

    ev = T(spark, sf_dir, "events").select("event_type", "user_id", "value")
    path = tempfile.mkdtemp(prefix="orc_rt_") + "/events_orc"
    ev.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.round("value", 2)), 2).alias("total_value"),
    )


@register(
    "golden_record_parts",
    f"""
    WITH RECURSIVE dirty AS (
      SELECT p_partkey AS dirty_key, p_brand, p_type, p_size,
             {_DIRTY_NAME_SQL} AS dirty_name,
             p_retailprice
      FROM part
    ),
    matches AS (
      SELECT p.p_partkey, d.dirty_key
      FROM part p JOIN dirty d ON {_LINK_BLOCK_SQL}
      WHERE round(jaro_winkler_similarity(p.p_name, d.dirty_name), 6) >= 0.92
    ),
    edges AS (
      SELECT 2 * p_partkey AS a, 2 * dirty_key + 1 AS b FROM matches
      UNION ALL
      SELECT 2 * dirty_key + 1, 2 * p_partkey FROM matches
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    records AS (
      SELECT 2 * p_partkey AS node, p_name AS name,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
      UNION ALL
      SELECT 2 * dirty_key + 1, dirty_name,
             CAST(round(p_retailprice * 100) AS BIGINT)
      FROM dirty
    ),
    labeled AS (
      SELECT node, name, cents,
             least(node, coalesce((SELECT min(dst) FROM reach WHERE src = node),
                                  node)) AS component
      FROM records
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_records,
           min_by(name, node) AS golden_name,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM labeled
    GROUP BY component
    """,
)
def golden_record_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship capstone over the linkage family: clean
    catalog + dirty feed → blocked JW matches → connected components
    (llmops/dedup.py::connected_components, the same iterated
    min-propagation used by the dedup pipelines) → one golden record
    per entity cluster. Survivorship is deterministic "trust the
    catalog, then lowest key": clean records get EVEN node ids and
    dirty ones ODD, so the min-node rule prefers a catalog name
    whenever the cluster has one — replayed in SQL as min_by over a
    recursive-CTE closure. Money is summed in integer cents (exact
    across engines)."""
    from dbt_lakehouse_aws_spark.llmops.dedup import connected_components
    from dbt_lakehouse_aws_spark.llmops.linkage import jw_linkage

    p = T(spark, sf_dir, "part")
    blk = F.concat_ws("|", *_LINK_BLOCK)
    clean = p.select("p_partkey", "p_name", blk.alias("blk"), "p_retailprice")
    dirty = p.select(
        F.col("p_partkey").alias("dirty_key"),
        F.expr(_DIRTY_NAME_SQL).alias("dirty_name"),
        blk.alias("blk"),
        "p_retailprice",
    )
    matches = jw_linkage(
        clean,
        dirty,
        left_id="p_partkey",
        right_id="dirty_key",
        left_text="p_name",
        right_text="dirty_name",
        block_col="blk",
        threshold=0.92,
    )
    edges = matches.select(
        (2 * F.col("p_partkey")).alias("a"),
        (2 * F.col("dirty_key") + 1).alias("b"),
    )
    comps = connected_components(edges, a_col="a", b_col="b")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    records = clean.select(
        (2 * F.col("p_partkey")).alias("node"),
        F.col("p_name").alias("name"),
        cents.alias("cents"),
    ).unionByName(
        dirty.select(
            (2 * F.col("dirty_key") + 1).alias("node"),
            F.col("dirty_name").alias("name"),
            cents.alias("cents"),
        )
    )
    labeled = records.join(comps, "node", "left").withColumn(
        "component", F.least("node", F.coalesce("component", "node"))
    )
    return labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.min_by("name", "node").alias("golden_name"),
        F.sum("cents").alias("total_cents"),
    )


@register(
    "jsonl_bz2_roundtrip_docs",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc
    FROM documents
    GROUP BY lang
    """,
)
def jsonl_bz2_roundtrip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed text-landing ingest: documents are re-exported as
    bz2-compressed JSON Lines with Spark's DISTRIBUTED json writer
    (bzip2 is a splittable codec, so reads parallelize block-wise at
    scale too) and read back through the native json reader; the
    aggregate over the READ-BACK copy must match the oracle over the
    source parquet — proving the ingest path end to end, the same
    shape as the ORC roundtrip. No driver-side materialization in
    either direction."""
    import tempfile

    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    root = tempfile.mkdtemp(prefix="jsonl_bz2_") + "/docs"
    d.write.mode("overwrite").option("compression", "bzip2").json(root)
    back = spark.read.schema("doc_id long, lang string, n_chars long").json(root)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
    )


@register(
    "kneser_ney_quality_docs",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    b2 AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(w) - 1),
                      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
        FROM toks)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM b2 GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(c2) AS c1, count(*) AS n1r FROM c2 GROUP BY w1),
    lft AS (SELECT w2, count(*) AS n1l FROM c2 GROUP BY w2),
    tot AS (SELECT count(*) AS tot FROM c2),
    model AS (
      SELECT w1, w2,
             ln(greatest(c2 - 0.75, 0.0) / c1
                + 0.75 * n1r / c1 * (n1l / tot)) AS lp
      FROM c2 JOIN c1 USING (w1) JOIN lft USING (w2) CROSS JOIN tot
    )
    SELECT doc_id, round(avg(lp), 6) AS avg_kn_logprob,
           count(*) AS n_bigrams
    FROM b2 JOIN model USING (w1, w2)
    GROUP BY doc_id
    """,
)
def kneser_ney_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram quality scoring over the
    corpus (llmops/text.py::kneser_ney_bigram_scores) — the classic
    smoothing, expressed as three hash aggregates + one scalar
    broadcast + one scoring join; the continuation-probability term
    is what distinguishes it from the MLE `bigram_lm_quality`
    already in the registry. Identical double-precision operation
    order on both engines keeps the 6-dp rounding exact."""
    from dbt_lakehouse_aws_spark.llmops.text import kneser_ney_bigram_scores

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return kneser_ney_bigram_scores(d)


@register(
    "ql_dirichlet_topk_docs",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    dl AS (SELECT doc_id, len(w) AS dl FROM toks),
    flat AS (SELECT doc_id, unnest(w) AS t FROM toks),
    total AS (SELECT CAST(sum(dl) AS DOUBLE) AS ctot FROM dl),
    q(t) AS (VALUES ('spark'), ('join'), ('window')),
    cterm AS (
      -- zero-corpus-frequency terms are DROPPED (P(w|C)=0 would be
      -- ln(0) for every doc) — mirrors the engine exactly
      SELECT q.t, CAST(coalesce(c.cw, 0) AS BIGINT) AS cw
      FROM q LEFT JOIN (SELECT t, count(*) AS cw FROM flat
                        WHERE t IN ('spark','join','window') GROUP BY t) c
        USING (t)
      WHERE coalesce(c.cw, 0) > 0
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM flat
           WHERE t IN ('spark','join','window') GROUP BY doc_id, t),
    grid AS (SELECT dl.doc_id, dl.dl, ct.t, ct.cw, total.ctot
             FROM dl CROSS JOIN cterm ct CROSS JOIN total),
    scored AS (
      SELECT g.doc_id,
             ln((coalesce(tf.tf, 0) + 2000.0 * (g.cw / g.ctot))
                / (g.dl + 2000.0)) AS lp
      FROM grid g LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.t = g.t
    )
    SELECT doc_id, round(sum(lp), 6) AS ql_score
    FROM scored GROUP BY doc_id
    ORDER BY ql_score DESC, doc_id ASC LIMIT 20
    """,
)
def ql_dirichlet_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (llmops/
    text.py::query_likelihood_topk) — the language-modeling IR
    baseline joining BM25 and TF-IDF in the retrieval family; mu =
    2000, query = {spark, join, window} (same bag as the hybrid-RRF
    query, so the scorers are comparable)."""
    from dbt_lakehouse_aws_spark.llmops.text import query_likelihood_topk

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return query_likelihood_topk(d, ["spark", "join", "window"], mu=2000.0, k=20)


@register(
    "pmi_collocations_docs",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
    b2 AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2 FROM (
        SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                      i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS bg
        FROM toks)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM b2 GROUP BY w1, w2),
    uni AS (SELECT t AS w, count(*) AS cu
            FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t),
    t2 AS (SELECT CAST(sum(c2) AS DOUBLE) AS t2 FROM c2),
    tu AS (SELECT CAST(sum(cu) AS DOUBLE) AS tu FROM uni)
    SELECT c2.w1, c2.w2, CAST(c2.c2 AS BIGINT) AS n_pair,
           round(ln((c2.c2 / t2.t2)
                    / ((u1.cu / tu.tu) * (u2.cu / tu.tu))), 6) AS pmi
    FROM c2
    JOIN uni u1 ON u1.w = c2.w1
    JOIN uni u2 ON u2.w = c2.w2
    CROSS JOIN t2 CROSS JOIN tu
    WHERE c2.c2 >= 5
    ORDER BY pmi DESC, c2.w1 ASC, c2.w2 ASC LIMIT 30
    """,
)
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 adjacent-word collocations by PMI with a count floor
    of 5 (llmops/text.py::pmi_collocations) — classic corpus
    analysis; fully relational (bigram explode + three hash
    aggregates + two model joins + TakeOrderedAndProject)."""
    from dbt_lakehouse_aws_spark.llmops.text import pmi_collocations

    d = T(spark, sf_dir, "documents").select("text")
    return pmi_collocations(d, min_count=5, k=30)


@register(
    "containment_pairs_docs",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingle
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_src, doc_dst,
           round(CAST(i AS DOUBLE) / s.n_sh, 6) AS containment
    FROM inter JOIN sizes s ON s.doc_id = doc_src
    WHERE CAST(i AS DOUBLE) / s.n_sh >= 0.8
    """,
)
def containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment (llmops/dedup.py::
    containment_pairs): |A∩B|/|A| over distinct 3-shingle sets, both
    directions, threshold 0.8 — the quote/subset-detection signal
    Jaccard thresholds miss. Exact (no LSH), so the oracle is the
    same relational computation."""
    from dbt_lakehouse_aws_spark.llmops.dedup import containment_pairs

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return containment_pairs(d, n=3, threshold=0.8)


# ---------------------------------------------------------------------------
# ROUND5_NEW batch A: graph analytics + distributed model fitting
# ---------------------------------------------------------------------------

#: shared user-co-activity edge derivation: an undirected edge links
#: two users who were active on the same (event_type, calendar hour)
#: slot at least ``min_shared`` times — hour granularity keeps the
#: graph sparse (day granularity makes it complete at every SF).
#: Both graph queries run at min_shared=3: the shared≥2 graph is 34%
#: DENSE at sf0.1 (384k edges / 1.5k nodes — avg degree 512), where
#: wedge enumeration costs 67M (triangles, even oriented) / 400M
#: (common-neighbor) row scans for no extra signal; at ≥3 the graph
#: is sparse at every SF and stays non-empty at sf0.001 (measured,
#: PERF.md). Orientation still guards the HUB case — that claim is
#: probed separately at a 100k-degree hub (PERF.md, probe #9).
from dbt_lakehouse_aws_spark.operators.coactivity import (  # noqa: E402
    coactivity_edges as _coactivity_edges,
    coactivity_edges_sql as _coactivity_edges_sql,
)


@register(
    "triangle_counts_events",
    f"""
    WITH {_coactivity_edges_sql(3)},
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
      SELECT node, count(*) AS triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      GROUP BY node
    ),
    nodes AS (SELECT a AS node FROM edges UNION SELECT b FROM edges)
    SELECT n.node AS user_id,
           CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles
    FROM nodes n LEFT JOIN per_node p ON p.node = n.node
    ORDER BY triangles DESC, user_id ASC LIMIT 20
    """,
)
def triangle_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the user co-activity graph via
    DEGREE-ORDERED ORIENTATION (operators/graph.py::triangle_counts —
    out-degree capped at O(√m) per node, so the wedge join survives
    power-law hubs; the oracle counts the same triangles with the
    naive ordered triple join, a genuinely different algorithm, which
    is what makes the row a strong check). Top-20 most clustered
    users.

    CALIBRATION-CLASS (the exact-vs-LSH dedup pattern): the EXACT
    estimand itself densifies super-linearly — at sf1.0 the wedge
    volume exceeds the 240 s watchdog (PERF.md "Round 6: sf1.0") —
    so this row calibrates the production form,
    ``triangle_counts_capped_events`` (queries_r7.py), whose top-16
    neighbor cap bounds wedge volume at n·k² regardless of raw-graph
    density (63 s at sf1.0)."""
    from dbt_lakehouse_aws_spark.operators.graph import triangle_counts

    edges = _coactivity_edges(spark, sf_dir, min_shared=3)
    return (
        triangle_counts(edges, src="a", dst="b")
        .select(F.col("node").alias("user_id"), "triangles")
        .orderBy(F.desc("triangles"), F.asc("user_id"))
        .limit(20)
    )


@register(
    "link_prediction_users",
    f"""
    WITH {_coactivity_edges_sql(3)},
    nbr AS (
      SELECT a AS node, b AS nbr FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    deg AS (SELECT node, count(*) AS deg FROM nbr GROUP BY node),
    common AS (
      SELECT w1.node AS node_a, w2.node AS node_b, count(*) AS common
      FROM nbr w1 JOIN nbr w2 ON w1.nbr = w2.nbr AND w1.node < w2.node
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    nonadj AS (
      SELECT c.* FROM common c
      LEFT JOIN edges e ON e.a = c.node_a AND e.b = c.node_b
      WHERE e.a IS NULL
    )
    SELECT node_a AS user_a, node_b AS user_b,
           CAST(common AS BIGINT) AS common,
           round(common / (da.deg + db.deg - common), 6) AS jaccard
    FROM nonadj
    JOIN deg da ON da.node = node_a
    JOIN deg db ON db.node = node_b
    ORDER BY common / (da.deg + db.deg - common) DESC, user_a, user_b
    LIMIT 30
    """,
)
def link_prediction_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor Jaccard over the user
    co-activity graph (operators/graph.py::common_neighbor_scores):
    non-adjacent pairs with ≥2 shared neighbors on the SPARSER
    shared≥3 co-activity graph (wedge enumeration is inherently
    Σ deg² — the denser shared≥2 graph costs 400M wedge scans at
    sf0.1 for no extra signal), scored |Γa∩Γb|/|Γa∪Γb| — candidates
    from a wedge join through the shared neighbor, never an all-pairs
    cross. The score is exact integer rational arithmetic in double,
    so ordering and values replay bit-identically in SQL.

    CALIBRATION-CLASS (the exact-vs-LSH dedup pattern): exact Σ deg²
    wedge enumeration densifies super-linearly — sf1.0 exceeds the
    240 s watchdog (PERF.md "Round 6: sf1.0") — so this row
    calibrates the production form, ``link_prediction_capped_users``
    (queries_r7.py), whose top-16 neighbor cap bounds wedge volume
    at n·k² (65 s at sf1.0)."""
    from dbt_lakehouse_aws_spark.operators.graph import common_neighbor_scores

    edges = _coactivity_edges(spark, sf_dir, min_shared=3)
    scores = common_neighbor_scores(edges, src="a", dst="b", min_common=2)
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


def _logreg_iter_sql(prev: str, out: str) -> str:
    """One unrolled gradient-descent step as a CTE (the same
    unrolled-fixpoint oracle device as pagerank_event_graph):
    w_j ← w_j − lr·avg((σ(w·x) − y)·x_j), lr = 1."""
    sig = f"(1.0/(1.0 + exp(-(p.w0 + p.w1*f.x1 + p.w2*f.x2))))"
    return (
        f"{out} AS (SELECT p.w0 - avg(({sig} - f.y)) AS w0, "
        f"p.w1 - avg(({sig} - f.y) * f.x1) AS w1, "
        f"p.w2 - avg(({sig} - f.y) * f.x2) AS w2 "
        f"FROM feat f CROSS JOIN {prev} p GROUP BY p.w0, p.w1, p.w2)"
    )


@register(
    "logreg_orders_gd",
    f"""
    WITH feat AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y,
             o_totalprice / 100000 AS x1,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1.0 ELSE 0.0 END AS x2
      FROM orders
    ),
    it0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2),
    {_logreg_iter_sql('it0', 'it1')},
    {_logreg_iter_sql('it1', 'it2')},
    {_logreg_iter_sql('it2', 'it3')},
    loss AS (
      SELECT avg(-(f.y * ln(1.0/(1.0 + exp(-(p.w0 + p.w1*f.x1 + p.w2*f.x2))))
                   + (1.0 - f.y) * ln(1.0 - 1.0/(1.0 + exp(-(p.w0 + p.w1*f.x1 + p.w2*f.x2)))))) AS log_loss,
             avg(f.y) AS pos_rate,
             CAST(count(*) AS BIGINT) AS n
      FROM feat f CROSS JOIN it3 p
    )
    SELECT round(p.w0, 6) AS w0, round(p.w1, 6) AS w1, round(p.w2, 6) AS w2,
           round(l.log_loss, 6) AS log_loss, round(l.pos_rate, 6) AS pos_rate,
           l.n
    FROM it3 p CROSS JOIN loss l
    """,
)
def logreg_orders_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression by full-batch gradient descent
    (llmops/mlfit.py::logreg_fit): predict order finality from scaled
    price + priority, 3 fixed steps from zero weights, lr=1. Each
    step is ONE whole-stage-codegen aggregate over the data; driver
    state is 3 floats. Value-oracled by unrolling the identical
    3-step trajectory into chained SQL CTEs — the iterative-ML
    analogue of the pagerank fixpoint oracle."""
    from dbt_lakehouse_aws_spark.llmops.mlfit import logreg_fit, logreg_log_loss

    o = T(spark, sf_dir, "orders")
    feat = o.select(
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
        (F.col("o_totalprice") / 100000).alias("x1"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0
        ).otherwise(0.0).alias("x2"),
    ).persist()
    w = logreg_fit(feat, ["x1", "x2"], "y", iters=3, lr=1.0)
    out = logreg_log_loss(feat, ["x1", "x2"], "y", w).select(
        F.round(F.lit(w[0]), 6).alias("w0"),
        F.round(F.lit(w[1]), 6).alias("w1"),
        F.round(F.lit(w[2]), 6).alias("w2"),
        F.round("log_loss", 6).alias("log_loss"),
        F.round("pos_rate", 6).alias("pos_rate"),
        "n",
    )
    return out


@register(
    "auc_order_priority",
    """
    WITH cells AS (
      SELECT o_totalprice AS s, count(*) AS n,
             sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS p
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT n, p, sum(n) OVER (ORDER BY s) AS cum_n FROM cells
    ),
    agg AS (
      SELECT sum(p * (CAST(cum_n - n AS DOUBLE) + (n + 1) / 2.0)) AS rpos,
             CAST(sum(p) AS BIGINT) AS np, CAST(sum(n) AS BIGINT) AS nt
      FROM cum
    )
    SELECT round((rpos - CAST(np AS DOUBLE) * (np + 1) / 2.0)
                 / (CAST(np AS DOUBLE) * (nt - np)), 6) AS auc,
           np AS n_pos, nt - np AS n_neg
    FROM agg
    """,
)
def auc_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC (llmops/evalmetrics.py::auc_roc — the
    Mann-Whitney rank-sum over per-distinct-score cells): does order
    price separate urgent/high-priority orders? The engine's running
    rank comes from the SCALABLE prefix sum (operators/windows.py::
    prefix_sum, range partition + broadcast offsets — no
    single-partition window); the oracle uses a plain windowed
    cumulative sum, a genuinely different plan computing the same
    exact rational, so the row pins both the metric and the
    primitive. All rank sums are exact halves in double — order-
    independent."""
    from dbt_lakehouse_aws_spark.llmops.evalmetrics import auc_roc

    o = T(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("y"),
    )
    return auc_roc(o, score_col="o_totalprice", label_col="y").select(
        F.round("auc", 6).alias("auc"), "n_pos", "n_neg"
    )


@register(
    "mutual_info_terms_by_lang",
    """
    WITH tc AS (
      SELECT term, lang AS class, count(*) AS o FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY 1, 2
    ), rt AS (SELECT term, sum(o) AS rt FROM tc GROUP BY 1),
    ct AS (SELECT class, sum(o) AS ct FROM tc GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM tc)
    SELECT tc.term,
           round(sum((CAST(tc.o AS DOUBLE) / n.n)
                     * ln((CAST(tc.o AS DOUBLE) * n.n)
                          / (CAST(rt.rt AS DOUBLE) * ct.ct))), 6) AS mi
    FROM tc JOIN rt ON rt.term = tc.term JOIN ct ON ct.class = tc.class, n
    GROUP BY tc.term
    ORDER BY mi DESC, tc.term ASC LIMIT 20
    """,
)
def mutual_info_terms_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature selection (llmops/classify.py::
    mutual_information_terms) — the information-theoretic sibling of
    the χ² row: zero cells contribute exactly 0, so the sum runs over
    the SPARSE observed (term, class) cells only, no grid
    densification. Top-20 most class-informative terms."""
    from dbt_lakehouse_aws_spark.llmops.classify import mutual_information_terms

    d = T(spark, sf_dir, "documents")
    return mutual_information_terms(d, label_col="lang", k=20)


@register(
    "gini_customer_revenue",
    """
    WITH rev AS (
      SELECT o_custkey AS cust,
             CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, cust) AS r
      FROM rev
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS total,
             CAST(sum(r * cents) AS BIGINT) AS wsum
      FROM ranked
    )
    SELECT n AS n_customers, total AS total_cents,
           round((2.0 * wsum - CAST(n + 1 AS DOUBLE) * total)
                 / (CAST(n AS DOUBLE) * total), 6) AS gini
    FROM agg
    """,
)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality statistic a curation pipeline uses to quantify key
    skew before choosing a partitioning. Needs every customer's
    GLOBAL rank by revenue: built on the scalable two-pass
    global_row_number (operators/windows.py, W4 primitive — no
    single-partition window), while the oracle uses a plain
    row_number window. Rank-weighted sums are exact integers (cents),
    so both sides agree bit-for-bit before the one final division."""
    from dbt_lakehouse_aws_spark.operators.windows import global_row_number

    o = T(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    ranked = global_row_number(rev, [F.asc("cents"), F.asc("cust")], name="r")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(F.col("r") * F.col("cents")).cast("long").alias("wsum"),
    )
    gini = (
        2.0 * F.col("wsum") - (F.col("n") + 1).cast("double") * F.col("total")
    ) / (F.col("n").cast("double") * F.col("total"))
    return agg.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.round(gini, 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# ROUND5_NEW batch B: gaps-and-islands, CUSUM change detection,
# market-basket lift, skip-gram PPMI
# ---------------------------------------------------------------------------


@register(
    "activity_streaks_users",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    runs AS (
      SELECT user_id,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS grp
      FROM days
    ),
    islands AS (
      SELECT user_id, grp, count(*) AS len FROM runs GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM islands
    GROUP BY user_id
    """,
)
def activity_streaks_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators/temporal.py::activity_streaks):
    per user, total active days / longest consecutive-day streak /
    number of streaks, via the day-minus-row_number constant-group
    trick. All windows partition by user — skew bounded by calendar
    days per key, no funnel."""
    from dbt_lakehouse_aws_spark.operators.temporal import activity_streaks

    ev = T(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return activity_streaks(ev, key_col="user_id", date_col="day").select(
        F.col("key").alias("user_id"),
        "n_active_days",
        "longest_streak",
        "n_streaks",
    )


@register(
    "cusum_daily_events",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type AS key, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT key, avg(x) AS mu, stddev_samp(x) AS sd FROM daily GROUP BY key
    ),
    seq AS (
      SELECT key, day, x, n,
             CAST(row_number() OVER (PARTITION BY key ORDER BY day)
                  AS BIGINT) AS i
      FROM daily
    ),
    rec(key, i, s) AS (
      SELECT key, CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE) FROM stats
      UNION ALL
      SELECT r.key, r.i + 1,
             greatest(0.0, r.s + (q.x - (st.mu + 0.5 * st.sd)))
      FROM rec r
      JOIN seq q ON q.key = r.key AND q.i = r.i + 1
      JOIN stats st ON st.key = r.key
    )
    SELECT q.key AS event_type, q.day, q.n, round(r.s, 6) AS cusum
    FROM rec r JOIN seq q ON q.key = r.key AND q.i = r.i
    """,
)
def cusum_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change detection over per-type daily event
    counts (operators/temporal.py::cusum_daily_anomaly). The max(0,·)
    clamp is nonlinear — no window function expresses it — so the
    engine pre-aggregates to the per-key daily series (the only
    O(rows) work) and folds the recursion per key in Arrow-batched
    applyInPandas; the oracle replays the identical recursion as a
    recursive CTE. Per-step operation order matches exactly, so 6-dp
    rounding is stable."""
    from dbt_lakehouse_aws_spark.operators.temporal import cusum_daily_anomaly

    ev = T(spark, sf_dir, "events")
    out = cusum_daily_anomaly(ev, key_col="event_type", ts_col="ts")
    return out.select(
        F.col("key").alias("event_type"),
        "day",
        "n",
        F.round("cusum", 6).alias("cusum"),
    )


@register(
    "basket_pairs_lift",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM items
    ),
    cnt AS (SELECT l_partkey, count(*) AS c FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS support
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, CAST(support AS BIGINT) AS support,
           round(CAST(support AS DOUBLE) * n.n / (ca.c * cb.c), 6) AS lift
    FROM pairs
    JOIN cnt ca ON ca.l_partkey = part_a
    JOIN cnt cb ON cb.l_partkey = part_b
    CROSS JOIN n_orders n
    WHERE support >= 2
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT 30
    """,
)
def basket_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: co-ordered part pairs with
    support ≥ 2, ranked by lift = P(a,b)/(P(a)·P(b)). The pair table
    is a self-equi-join on the ORDER key — fan-out bounded by
    items-per-order (≤ 7 in this schema), linear in lineitems, never
    an all-pairs part join; counts collapse map-side. Lift is exact
    integer rational arithmetic in double, so ordering and values
    replay bit-identically."""
    l = T(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    lift = F.col("support").cast("double") * F.col("n") / (
        F.col("ca") * F.col("cb")
    )
    return (
        pairs.join(cnt.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca")), "part_a")
        .join(cnt.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb")), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("support").cast("long").alias("support"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(30)
    )


@register(
    "skipgram_ppmi_docs",
    """
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
    lanes AS (
      SELECT bg.w1 AS w1, bg.w2 AS w2 FROM (
        SELECT unnest(list_transform(generate_series(1, len(w) - 1),
               i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS bg FROM toks)
      UNION ALL
      SELECT bg.w1, bg.w2 FROM (
        SELECT unnest(list_transform(generate_series(1, len(w) - 2),
               i -> struct_pack(w1 := w[i], w2 := w[i + 2]))) AS bg FROM toks)
      UNION ALL
      SELECT bg.w1, bg.w2 FROM (
        SELECT unnest(list_transform(generate_series(1, len(w) - 3),
               i -> struct_pack(w1 := w[i], w2 := w[i + 3]))) AS bg FROM toks)
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM lanes GROUP BY 1, 2),
    uni AS (SELECT t AS w, count(*) AS cu
            FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
    t2 AS (SELECT sum(c2) AS t2 FROM c2),
    tu AS (SELECT sum(cu) AS tu FROM uni)
    SELECT c2.w1, c2.w2, CAST(c2.c2 AS BIGINT) AS n_pair,
           round(greatest(ln((c2.c2 / t2.t2)
                             / ((u1.cu / tu.tu) * (u2.cu / tu.tu))), 0.0),
                 6) AS ppmi
    FROM c2
    JOIN uni u1 ON u1.w = c2.w1
    JOIN uni u2 ON u2.w = c2.w2
    CROSS JOIN t2 CROSS JOIN tu
    WHERE c2.c2 >= 5
    ORDER BY ppmi DESC, c2.w1 ASC, c2.w2 ASC LIMIT 30
    """,
)
def skipgram_ppmi_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram PPMI co-occurrence, window 3 (llmops/text.py::
    skipgram_ppmi) — the word2vec-implicit statistic; pair lanes are
    shifted-slice arrays_zip projections (NO position self-join, so
    work is window·tokens, linear). Top-30 pairs."""
    from dbt_lakehouse_aws_spark.llmops.text import skipgram_ppmi

    d = T(spark, sf_dir, "documents").select("text")
    return skipgram_ppmi(d, window=3, min_count=5, k=30)


# ---------------------------------------------------------------------------
# ROUND5_NEW batch C: ingest formats + streaming window equivalence
# ---------------------------------------------------------------------------


@register(
    "fixed_width_roundtrip_orders",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_custkey) AS BIGINT) AS max_cust
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def fixed_width_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text ingest (sources/reader.py::read_fixed_width —
    the mainframe/EDI landing format): orders are formatted into
    12+12+1+14-char fixed columns with Spark's distributed text
    writer, read back via substring+trim+cast (all JVM expressions
    over spark.read.text, ANSI-safe), and the aggregate over the
    READ-BACK copy must match the oracle over the source parquet —
    same roundtrip proof shape as the ORC/JSONL rows. Money travels
    as integer cents so the text format is lossless."""
    import tempfile

    from dbt_lakehouse_aws_spark.sources.reader import read_fixed_width

    o = T(spark, sf_dir, "orders")
    line = F.concat(
        F.lpad(F.col("o_orderkey").cast("string"), 12, " "),
        F.lpad(F.col("o_custkey").cast("string"), 12, " "),
        F.col("o_orderstatus"),
        F.lpad(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            14,
            " ",
        ),
    )
    root = tempfile.mkdtemp(prefix="fixw_") + "/orders_fixw"
    o.select(line.alias("value")).write.mode("overwrite").text(root)
    back = read_fixed_width(
        spark,
        root,
        [
            ("o_orderkey", 1, 12, "long"),
            ("o_custkey", 13, 12, "long"),
            ("o_orderstatus", 25, 1, "string"),
            ("cents", 26, 14, "long"),
        ],
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_custkey").alias("max_cust"),
    )


@register(
    "hive_partition_prune_events",
    """
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(round(value, 2)), 2) AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def hive_partition_prune_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-pruned scan: events
    are written ``partitionBy(event_type)`` (the layout a 100 TB
    event lake actually uses), then read back with an event_type
    filter that must resolve at PLANNING time — the scan lists only
    the one matching directory, never touching the other partitions'
    files (asserted by tests/test_plans.py::
    test_hive_partition_prune_plan on this exact query). The
    aggregate over the pruned read-back must match the oracle's
    filtered aggregate over the source."""
    import tempfile

    ev = T(spark, sf_dir, "events").select(
        "event_id", "ts", "value", "event_type"
    )
    root = tempfile.mkdtemp(prefix="hivep_") + "/events_part"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(root)
    back = spark.read.parquet(root).filter(F.col("event_type") == "purchase")
    return back.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.round("value", 2)), 2).alias("total_value"),
    )


@register(
    "avro_roundtrip_events",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY event_type
    """,
)
def avro_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro WRITE + READ roundtrip through the pure-Python codec
    (sources/avro_io.py::write_avro / read_avro): each task encodes
    its partition into one spec-conformant deflate container
    (tmp-file + atomic rename), the read side decodes per file in
    executor tasks, and the aggregate over the read-back must match
    the oracle over the source parquet. Completes the Avro story —
    round 3 proved READ against hand-built byte fixtures; this proves
    the writer emits containers the (fixture-pinned) reader accepts,
    distributed both ways. Values travel as integer cents."""
    import tempfile

    from dbt_lakehouse_aws_spark.sources.avro_io import read_avro, write_avro

    ev = T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    root = tempfile.mkdtemp(prefix="avro_rt_") + "/events_avro"
    write_avro(ev, root, codec="deflate").collect()  # force the sink
    back = read_avro(spark, root)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value_cents").cast("long").alias("value_cents"),
    )


@register(
    "stream_window_counts_equivalence",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_windows,
           CAST(0 AS BIGINT) AS n_only_stream,
           CAST(0 AS BIGINT) AS n_only_batch
    FROM (
      SELECT date_trunc('day', ts) AS w, event_type
      FROM events GROUP BY 1, 2
    )
    """,
)
def stream_window_counts_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream/batch equivalence for the watermarked tumbling-window
    aggregation (streaming/ingest.py::windowed_event_counts — the
    third streaming path under the driver gate, joining PIT-enrich
    and dedup-at-ingest): one availableNow pass over the sf_dir
    events with a 1-day window must produce EXACTLY the batch
    group-by's windows. The oracle pins the window count and that
    both exceptAll directions are empty."""
    import uuid

    from dbt_lakehouse_aws_spark.streaming.ingest import windowed_event_counts

    ev_stream = _events_stream_r5(spark, sf_dir)
    agg = windowed_event_counts(
        ev_stream, window="1 day", watermark="2 days"
    ).select(
        "window_start",
        "event_type",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    )
    sink = f"winagg_eq_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    stream_out = spark.table(sink)

    ev = T(spark, sf_dir, "events")
    batch_out = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    only_s = stream_out.exceptAll(batch_out).count()
    only_b = batch_out.exceptAll(stream_out).count()
    n_windows = batch_out.count()
    return local_frame(
        spark,
        [(n_windows, only_s, only_b)],
        "n_windows long, n_only_stream long, n_only_batch long",
    )


def _events_stream_r5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the sf_dir events parquet with the same
    nanos-ts normalization T() applies to the batch reader."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes)["ts"] == "bigint":
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))
