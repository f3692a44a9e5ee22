"""Shared DuckDB oracle-SQL builders for the LLM query family.

LEAF module (depends only on ``llmops.dedup``, itself leaf-safe):
``standard_queries``, ``queries_llm`` and the ``queries_r*`` modules
all import these, and a leaf is the only import topology that survives
every entry order — a builder living in ``queries_llm`` deadlocks
any entry path that touches ``queries_llm`` before
``standard_queries`` finishes executing (observed: staged_r8's
module-level oracle construction -> queries_llm -> standard_queries
-> KeyError on the not-yet-registered cosine_topk).
"""

from __future__ import annotations


#: brute-force exact cosine top-5 for query vectors vec_id < 10 —
#: the ANN family's ground-truth list, also spliced into
#: ir_metrics_ann's oracle as its `truth` CTE.
COSINE_TOPK_ORACLE =     """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS v_q FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v_q, c.emb)
                   / (sqrt(list_dot_product(q.v_q, q.v_q)) * sqrt(list_dot_product(c.emb, c.emb))),
                   6) AS cosine
      FROM q, v c WHERE c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """


def _shingle_hash_ctes(n: int = 3) -> str:
    """Shared DuckDB CTE prefix: distinct word n-gram shingles per doc
    + the portable md5-prefix base hash (dedup.py::_portable_hash60,
    verified bit-identical Spark↔DuckDB including unicode)."""
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(tokens) - {n - 2}),
                                   i -> array_to_string(list_slice(tokens, i, i + {n - 1}), ' '))) AS shingle
      FROM toks WHERE len(tokens) >= {n}
    ),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS hv FROM sh)"""


def _minhash_lsh_oracle(num_hashes: int = 32, num_bands: int = 8,
                        est_threshold: float = 0.4) -> str:
    """Exact SQL replay of the portable-hash MinHash+LSH pipeline:
    same base hash, same seeded affine coefficients (shared source of
    truth: dedup.py::minhash_coefficients), banding replayed as
    slice-equality (Spark's xxhash64 band bucket is an internal key —
    two docs share a bucket iff their band slices are equal)."""
    from dbt_lakehouse_aws_spark.llmops.dedup import MINHASH_PRIME, minhash_coefficients

    coeffs = minhash_coefficients(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * bh + {b}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    rpb = num_hashes // num_bands
    band_match = "\n            OR ".join(
        "(" + " AND ".join(
            f"a.h{band * rpb + j} = b.h{band * rpb + j}" for j in range(rpb)
        ) + ")"
        for band in range(num_bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return f"""{_shingle_hash_ctes()},
    hb AS (SELECT doc_id, hv % {MINHASH_PRIME} AS bh FROM h),
    sig AS (SELECT doc_id,
             {mins}
            FROM hb GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(({matches}) / {num_hashes}.0, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE ({band_match})
      AND ({matches}) / {num_hashes}.0 >= {est_threshold}
    """


def _ann_lsh_oracle(num_bits: int = 6, dim: int = 64, k: int = 5) -> str:
    """Full replay of sign-LSH ANN: the hyperplanes are already a
    closed-form integer grid (similarity.py::_grid_hyperplane), so
    DuckDB recomputes the exact buckets — verified empirically: 0 of
    500 bucket mismatches at sf0.01, and the minimum |v·w| across all
    (vector, plane) pairs is 1.3e-3, nine orders of magnitude above
    cross-engine float-summation noise, so no sign bit can flip."""
    plane = lambda bit: (
        f"list_transform(range(0, {dim}), j -> CAST((({bit}*37 + j*101) % 19) - 9 AS DOUBLE))"
    )
    bits = " + ".join(
        f"(CASE WHEN list_dot_product(emb, {plane(i)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(num_bits)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    b AS (
      SELECT vec_id, emb, {bits} AS bucket,
             sqrt(list_dot_product(emb, emb)) AS norm
      FROM v
    ),
    q AS (SELECT vec_id AS query_id, emb AS v_q, norm AS norm_q, bucket
          FROM b WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.v_q, c.emb) / (q.norm_q * c.norm), 6) AS cosine
      FROM q JOIN b c USING (bucket) WHERE c.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
    """
