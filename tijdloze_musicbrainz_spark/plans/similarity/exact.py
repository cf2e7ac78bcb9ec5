"""Exact similarity lanes: brute-force cosine top-k (the oracle
baseline, size-guarded), the blocked numpy-matmul near-dup scan, the
Arrow-batched pandas top-k, and int8 embedding quantization.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register

from .common import (
    MAX_QUERIES,
    NEAR_DUP_BLOCKS,
    TOP_K,
    _COS_SQL,
    _Q_SQL,
    _guard_brute_force,
    _query_filter,
    _vecs,
    cosine,
)


@register(
    "sim_cosine_topk_exact",
    survey_ids=(),
    oracle=f"""
WITH q AS (SELECT * FROM embeddings
           WHERE embedding IS NOT NULL AND {_Q_SQL}),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS match_id,
         round({_COS_SQL}, 6) AS cosine
  FROM q a JOIN (SELECT * FROM embeddings WHERE embedding IS NOT NULL) b
    ON a.vec_id <> b.vec_id
)
SELECT * FROM (
  SELECT query_id, match_id, cosine
  FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, match_id) <= {TOP_K}
) WHERE cosine IS NOT NULL
""",
    doc="Brute-force cosine top-k: broadcast query set x corpus scan, "
    "window top-k per query. The exact baseline every ANN variant is "
    "measured against.",
)
def sim_cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir)
    _guard_brute_force(
        vecs, "sim_cosine_topk_exact", "sim_ann_lsh_bucketed/sim_ann_ivf_bucketed"
    )
    q = vecs.filter(_query_filter()).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        F.broadcast(q)
        .join(vecs, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    # The NULL-cosine exclusion filters AFTER the rank: a filter on the
    # computed cosine column would push below the project and evaluate
    # the interpreted fold TWICE per pair (measured 1.8x at sf0.1 — the
    # duplicated-expression trap again). NULLs sort last under DESC in
    # both engines, so post-rank filtering picks the identical set.
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= TOP_K)
        .drop("__rn")
        .filter(F.col("cosine").isNotNull())
    )


@register(
    "sim_embedding_near_dup",
    survey_ids=(),
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_COS_SQL}, 6) AS cosine
FROM (SELECT * FROM embeddings WHERE embedding IS NOT NULL) a
JOIN (SELECT * FROM embeddings WHERE embedding IS NOT NULL) b
  ON a.vec_id < b.vec_id
WHERE round({_COS_SQL}, 6) >= 0.45
""",
    doc="Embedding-cosine near-dup pairs (threshold 0.45): the "
    "documented brute-force baseline of the dedup suite; "
    "sim_ann_lsh_bucketed is the bucketed scale path. NOTE (ADVICE "
    "r4): the numpy matmul uses pairwise/SIMD summation while the "
    "oracle folds sequentially — a last-ulp float64 difference "
    "straddling the 0.45 threshold (or a 0.5e-6 rounding boundary) "
    "can flip pair membership (~1e-9 chance per pair). If a boundary "
    "mismatch ever appears at scale, demote this entry to rows-only "
    "exactly as documented on sim_cosine_topk_pandas.",
)
def sim_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked exact all-pairs (r4c): the old per-pair zip_with/aggregate
    # fold ran INTERPRETED inside a BroadcastNestedLoopJoin — 111 s for
    # the 10k-vector sf0.1 corpus. Same O(N^2) math as one BLAS matmul
    # per block pair runs in ~2 s: vectors group into NEAR_DUP_BLOCKS
    # hash blocks (one shuffle of N rows), the tiny blocks relation
    # cross-pairs with itself (B(B+1)/2 rows), and mapInPandas scores
    # each block pair with one numpy matmul. Still guarded: this is
    # the oracle baseline, sim_near_dup_lsh_bucketed is the scale path.
    from collections.abc import Iterator  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    vecs = _vecs(spark, sf_dir)
    _guard_brute_force(vecs, "sim_embedding_near_dup", "sim_ann_lsh_bucketed")
    blocks = vecs.groupBy((F.col("vec_id") % NEAR_DUP_BLOCKS).alias("bid")).agg(
        F.collect_list("vec_id").alias("ids"),
        F.collect_list("v").alias("vs"),
    )
    pairs = (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.bid") <= F.col("b.bid"))
        .select(
            (F.col("a.bid") == F.col("b.bid")).alias("same_block"),
            F.col("a.ids").alias("ids_a"),
            F.col("a.vs").alias("vs_a"),
            F.col("b.ids").alias("ids_b"),
            F.col("b.vs").alias("vs_b"),
        )
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a = np.asarray(row["ids_a"], dtype=np.int64)
                ids_b = np.asarray(row["ids_b"], dtype=np.int64)
                va = np.array([np.asarray(v) for v in row["vs_a"]], dtype=np.float64)
                vb = np.array([np.asarray(v) for v in row["vs_b"]], dtype=np.float64)
                # zero-norm rows normalize to the zero vector (cosine
                # 0 to everything -> below threshold), never 0/0 NaN
                na = np.linalg.norm(va, axis=1, keepdims=True)
                nb = np.linalg.norm(vb, axis=1, keepdims=True)
                va /= np.where(na == 0, 1.0, na)
                vb /= np.where(nb == 0, 1.0, nb)
                sims = np.round(va @ vb.T, 6)
                # same block: the matrix holds BOTH orderings of every
                # pair — keep the id-ordered triangle. Distinct blocks:
                # each unordered pair appears exactly once, but the
                # smaller id may sit in the higher block — keep all and
                # emit (min, max).
                mask = sims >= 0.45
                if row["same_block"]:
                    mask &= ids_a[:, None] < ids_b[None, :]
                ai, bi = np.nonzero(mask)
                lo = np.minimum(ids_a[ai], ids_b[bi])
                hi = np.maximum(ids_a[ai], ids_b[bi])
                yield pd.DataFrame(
                    {"vec_a": lo, "vec_b": hi, "cosine": sims[ai, bi]}
                )

    return pairs.mapInPandas(
        score, schema="vec_a long, vec_b long, cosine double"
    )


@register(
    "sim_cosine_topk_pandas",
    survey_ids=(),
    oracle=f"""
WITH q AS (SELECT * FROM embeddings
           WHERE embedding IS NOT NULL AND {_Q_SQL}),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS match_id,
         round({_COS_SQL}, 6) AS cosine
  FROM q a JOIN (SELECT * FROM embeddings WHERE embedding IS NOT NULL) b
    ON a.vec_id <> b.vec_id
)
SELECT query_id, match_id, cosine
FROM scored
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY cosine DESC, match_id) <= {TOP_K}
""",
    doc="The vectorized scale path for wide batches: the broadcast "
    "query matrix is scored against each Arrow batch with one numpy "
    "matmul inside mapInPandas (bytes cross the JVM boundary once per "
    "batch), then the per-batch partial top-k is re-ranked globally. "
    "Same oracle as the expression-based exact variant — both must "
    "produce identical rounded cosines.",
)
def sim_cosine_topk_pandas(
    spark: SparkSession, sf_dir: str, queries: DataFrame | None = None
) -> DataFrame:
    from collections.abc import Iterator  # noqa: PLC0415

    vecs = _vecs(spark, sf_dir)
    # The query matrix lives on the driver, so the query set MUST be
    # bounded before it is collected: limit(MAX_QUERIES + 1) keeps the
    # collect itself bounded even on a hostile input, and the size
    # check turns an over-limit workload into a loud error instead of
    # a silent driver OOM at scale.
    q = queries if queries is not None else vecs.filter(_query_filter())
    q_rows = q.select("vec_id", "v").limit(MAX_QUERIES + 1).collect()
    if len(q_rows) > MAX_QUERIES:
        raise ValueError(
            f"sim_cosine_topk_pandas: query set exceeds MAX_QUERIES="
            f"{MAX_QUERIES}; pass a bounded `queries` DataFrame (the "
            "LSH/IVF bucketed variants are the large-Q scale path)"
        )
    import numpy as np  # noqa: PLC0415

    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["v"] for r in q_rows], dtype=np.float64)
    q_norms = np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_valid = q_norms[:, 0] > 0  # zero-norm queries match nothing
    q_norm = q_mat / np.where(q_norms == 0, 1.0, q_norms)

    out_schema = "query_id long, match_id long, cosine double"

    def score(batches: Iterator) -> Iterator:
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            m = np.array(list(pdf["v"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            m_norms = np.linalg.norm(m, axis=1, keepdims=True)
            m_valid = m_norms[:, 0] > 0
            m_norm = m / np.where(m_norms == 0, 1.0, m_norms)
            # NOTE: numpy matmul uses pairwise/SIMD summation while
            # the oracle folds sequentially — the float64 results can
            # differ in the last ulps. The 6-digit rounding absorbs
            # that except when a cosine sits within ~1e-15 of a
            # 0.5e-6 boundary (~1e-9 per pair); at corpus scale,
            # demote this entry to rows-only.
            sims = np.round(q_norm @ m_norm.T, 6)
            # zero-norm pairs are EXCLUDED (the exact variant's NULL
            # cosine), not emitted as 0.0
            qi, mi = np.nonzero(q_valid[:, None] & m_valid[None, :])
            yield pd.DataFrame(
                {
                    "query_id": q_ids[qi],
                    "match_id": ids[mi],
                    "cosine": sims[qi, mi],
                }
            )

    scored = vecs.mapInPandas(score, out_schema).filter(
        F.col("query_id") != F.col("match_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= TOP_K)
        .drop("__rn")
    )


@register(
    "sim_embedding_quantize_int8",
    survey_ids=(),
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
scaled AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS max_abs
  FROM v
),
quant AS (
  SELECT vec_id, v, max_abs,
         CASE WHEN max_abs = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(floor(x * 127.0 / max_abs
                                                     + 0.5) AS BIGINT))
         END AS q
  FROM scaled
)
SELECT vec_id,
       CAST(list_sum(q) AS BIGINT) AS q_checksum,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS q_l1,
       round(max_abs, 6) AS scale_max_abs,
       round(list_aggregate(
         list_transform(list_zip(v, q),
                        z -> abs(z[1] - (z[2] * max_abs) / 127.0)),
         'max'), 6) AS max_recon_err
FROM quant
""",
    doc="Symmetric int8 quantization of the embedding column — the "
    "4x vector-storage compression a 100 TB embedding store runs "
    "before serving. Per vector: scale = max|x|/127, q_i = "
    "round-half-up(x_i/scale), reported as exact integer checksums "
    "(engine-proof) plus the max reconstruction error. Pure JVM "
    "higher-order functions (transform/aggregate/zip_with) — one "
    "narrow pass, no shuffle, no UDF; the deterministic "
    "floor(x+0.5) rounding makes the int8 codes bit-identical in "
    "DuckDB, so the oracle checks the actual codes, not a summary.",
)
def sim_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vecs(spark, sf_dir)
    max_abs = F.array_max(F.transform(F.col("v"), F.abs))
    scaled = vecs.withColumn("max_abs", max_abs)
    # a zero vector (max_abs = 0) quantizes to all-zero codes — the
    # 0/0 division would be an ANSI error (edge-embeddings test)
    q = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("max_abs") == 0, F.lit(0).cast("long")).otherwise(
            F.floor(x * F.lit(127.0) / F.col("max_abs") + F.lit(0.5)).cast("long")
        ),
    )
    quant = scaled.withColumn("q", q)
    recon_err = F.array_max(
        F.zip_with(
            F.col("v"),
            F.col("q"),
            lambda x, qi: F.abs(x - (qi.cast("double") * F.col("max_abs")) / F.lit(127.0)),
        )
    )
    return quant.select(
        "vec_id",
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_checksum"
        ),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_l1"),
        F.round(F.col("max_abs"), 6).alias("scale_max_abs"),
        F.round(recon_err, 6).alias("max_recon_err"),
    )

