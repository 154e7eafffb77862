"""Quantization suite queries (SURVEY §2.5 Q1-Q9) over ``embeddings``.

- sq_train_stats: per-dim min/max/scale (Q1)
- sq_knn_l2:      encode db+query to uint8 codes, SQ-L2 top-k (Q2/Q3)
- bq_hamming_knn: median thresholds → bits → Hamming top-k (Q4-Q6)
- pq_adc_knn:     fixed deterministic codebooks (subvector slices of
                  vec_id 0..15, K=16, M=8) → encode → ADC LUT top-k
                  (Q8/Q9). Real KMeans training (Q7) is exercised in
                  tests via ann.kmeans with recall gates — k-means isn't
                  SQL-expressible, so the oracle uses fixed codebooks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastpyvectordb_spark.operators import quantization as Q
from fastpyvectordb_spark.suite import register
from fastpyvectordb_spark.tables import load_table

DIMS = 64
K = 10
M_SUB = 8
N_CENTROIDS = 16


@register(
    "sq_train_stats",
    """
SELECT CAST(dim - 1 AS INT) AS dim,
       ROUND(vmin, 6) AS vmin,
       ROUND(vmax, 6) AS vmax,
       ROUND(CASE WHEN vmax - vmin = 0 THEN 1.0 ELSE vmax - vmin END, 6) AS scale
FROM (
  SELECT i AS dim, MIN(CAST(v AS DOUBLE)) AS vmin, MAX(CAST(v AS DOUBLE)) AS vmax
  FROM (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        FROM embeddings)
  GROUP BY i
)
ORDER BY dim
""",
)
def sq_train_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t = Q.sq_train(emb)
    return t.select(
        F.col("dim").cast("int").alias("dim"),
        F.round("vmin", 6).alias("vmin"),
        F.round("vmax", 6).alias("vmax"),
        F.round("scale", 6).alias("scale"),
    ).orderBy("dim")


_SQ_KNN_ORACLE = f"""
WITH stats AS (
  SELECT i AS dim, MIN(CAST(v AS DOUBLE)) AS vmin, MAX(CAST(v AS DOUBLE)) AS vmax
  FROM (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        FROM embeddings)
  GROUP BY i
),
params AS (
  SELECT list(vmin ORDER BY dim) AS mins,
         list(CASE WHEN vmax - vmin = 0 THEN 1.0 ELSE vmax - vmin END ORDER BY dim) AS scales
  FROM stats
),
encoded AS (
  SELECT e.vec_id,
         list_transform(
           list_zip(e.embedding, p.mins, p.scales),
           t -> CAST(floor(least(greatest((CAST(t[1] AS DOUBLE) - t[2]) / t[3] * 255.0, 0.0), 255.0)) AS INT)
         ) AS codes
  FROM embeddings e CROSS JOIN params p
),
q AS (SELECT codes AS qcodes FROM encoded WHERE vec_id = 0)
SELECT e.vec_id AS vec_id,
       ROUND(sqrt(list_sum(list_transform(
         list_zip(e.codes, q.qcodes, p.scales),
         t -> ((CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)) * t[3] / 255.0)
            * ((CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)) * t[3] / 255.0)
       ))), 6) AS dist
FROM encoded e CROSS JOIN q CROSS JOIN params p
ORDER BY dist, vec_id
LIMIT {K}
"""


@register("sq_knn_l2", _SQ_KNN_ORACLE)
def sq_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2/Q3: scalar-quantized L2 search. Train params are collected to
    the driver (D rows — a broadcast codebook) and inlined as literals
    so encode/search stay pure codegen expressions."""
    emb = load_table(spark, sf_dir, "embeddings")
    stats = Q.sq_train(emb).collect()
    mins = [r["vmin"] for r in stats]
    scales = [r["scale"] for r in stats]
    codes = emb.select(
        "vec_id", Q.sq_encode_expr(F.col("embedding"), mins, scales).alias("codes")
    )
    q = codes.filter(F.col("vec_id") == 0).select(F.col("codes").alias("qcodes"))
    return (
        codes.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                Q.sq_l2_distance_expr(F.col("codes"), F.col("qcodes"), scales), 6
            ).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(K)
    )


_SQ_PARAMS_CTE = """
stats AS (
  SELECT i AS dim, MIN(CAST(v AS DOUBLE)) AS vmin, MAX(CAST(v AS DOUBLE)) AS vmax
  FROM (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        FROM embeddings)
  GROUP BY i
),
params AS (
  SELECT list(vmin ORDER BY dim) AS mins,
         list(CASE WHEN vmax - vmin = 0 THEN 1.0 ELSE vmax - vmin END ORDER BY dim) AS scales
  FROM stats
),
encoded AS (
  SELECT e.vec_id,
         list_transform(
           list_zip(e.embedding, p.mins, p.scales),
           t -> CAST(floor(least(greatest((CAST(t[1] AS DOUBLE) - t[2]) / t[3] * 255.0, 0.0), 255.0)) AS INT)
         ) AS codes
  FROM embeddings e CROSS JOIN params p
),
decoded AS (
  SELECT en.vec_id,
         list_transform(list_zip(en.codes, p.mins, p.scales),
                        t -> CAST(t[1] AS DOUBLE) * t[3] / 255.0 + t[2]) AS d
  FROM encoded en CROSS JOIN params p
),
q AS (SELECT d AS qd FROM decoded WHERE vec_id = 0)"""

_SQ_COS_ORACLE = f"""
WITH {_SQ_PARAMS_CTE.lstrip()}
SELECT e.vec_id AS vec_id,
       ROUND(1.0 - list_sum(list_transform(list_zip(e.d, q.qd), t -> t[1] * t[2]))
             / ((sqrt(list_sum(list_transform(e.d, x -> x * x))) + 1e-10)
              * (sqrt(list_sum(list_transform(q.qd, x -> x * x))) + 1e-10)), 6) AS dist
FROM decoded e CROSS JOIN q
ORDER BY dist, vec_id
LIMIT {K}
"""


@register("sq_knn_cosine", _SQ_COS_ORACLE)
def sq_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 cosine variant: decode+normalize over reconstructed vectors
    (ref quantization.py:217-251)."""
    emb = load_table(spark, sf_dir, "embeddings")
    stats = Q.sq_train(emb).collect()
    mins = [r["vmin"] for r in stats]
    scales = [r["scale"] for r in stats]
    codes = emb.select(
        "vec_id", Q.sq_encode_expr(F.col("embedding"), mins, scales).alias("codes")
    )
    q = codes.filter(F.col("vec_id") == 0).select(F.col("codes").alias("qcodes"))
    return (
        codes.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                Q.sq_cosine_distance_expr(
                    F.col("codes"), F.col("qcodes"), mins, scales
                ),
                6,
            ).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(K)
    )


_SQ_IP_ORACLE = f"""
WITH {_SQ_PARAMS_CTE.lstrip()}
SELECT e.vec_id AS vec_id,
       ROUND(-list_sum(list_transform(list_zip(e.d, q.qd), t -> t[1] * t[2])), 6) AS dist
FROM decoded e CROSS JOIN q
ORDER BY dist, vec_id
LIMIT {K}
"""


@register("sq_knn_ip", _SQ_IP_ORACLE)
def sq_knn_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 dot variant: −dot over reconstructed vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    stats = Q.sq_train(emb).collect()
    mins = [r["vmin"] for r in stats]
    scales = [r["scale"] for r in stats]
    codes = emb.select(
        "vec_id", Q.sq_encode_expr(F.col("embedding"), mins, scales).alias("codes")
    )
    q = codes.filter(F.col("vec_id") == 0).select(F.col("codes").alias("qcodes"))
    return (
        codes.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                Q.sq_ip_distance_expr(
                    F.col("codes"), F.col("qcodes"), mins, scales
                ),
                6,
            ).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(K)
    )


_BQ_ORACLE = f"""
WITH thresholds AS (
  SELECT i AS dim, quantile_cont(CAST(v AS DOUBLE), 0.5) AS threshold
  FROM (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        FROM embeddings)
  GROUP BY i
),
params AS (SELECT list(threshold ORDER BY dim) AS ts FROM thresholds),
bits AS (
  SELECT e.vec_id,
         list_transform(list_zip(e.embedding, p.ts),
                        t -> CAST(CAST(t[1] AS DOUBLE) > t[2] AS INT)) AS b
  FROM embeddings e CROSS JOIN params p
),
q AS (SELECT b AS qb FROM bits WHERE vec_id = 0)
SELECT bits.vec_id AS vec_id,
       CAST(list_sum(list_transform(list_zip(bits.b, q.qb),
                     t -> CAST(t[1] <> t[2] AS INT))) AS INT) AS hamming
FROM bits CROSS JOIN q
ORDER BY hamming, vec_id
LIMIT {K}
"""


@register("bq_hamming_knn", _BQ_ORACLE)
def bq_hamming_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-Q6: binary-quantized Hamming search. Spark side packs bits
    into int64 words and uses XOR+bit_count (the scale path); the
    oracle uses unpacked bits — identical integer results."""
    emb = load_table(spark, sf_dir, "embeddings")
    thresholds = [r["threshold"] for r in Q.bq_train(emb).collect()]
    packed = emb.select(
        "vec_id",
        Q.bq_pack_expr(
            Q.bq_bits_expr(F.col("embedding"), thresholds), DIMS
        ).alias("words"),
    )
    q = packed.filter(F.col("vec_id") == 0).select(F.col("words").alias("qwords"))
    return (
        packed.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            Q.hamming_packed_expr(F.col("words"), F.col("qwords")).alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(K)
    )


_PQ_ORACLE = f"""
WITH ms AS (SELECT unnest(range(0, {M_SUB})) AS m),
subvecs AS (
  SELECT e.vec_id, ms.m,
         list_slice(e.embedding, ms.m * {DIMS // M_SUB} + 1, ms.m * {DIMS // M_SUB} + {DIMS // M_SUB}) AS subvec
  FROM embeddings e CROSS JOIN ms
),
centroids AS (
  SELECT m, vec_id AS cidx, subvec AS cvec FROM subvecs WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT s.vec_id, s.m, c.cidx,
         list_sum(list_transform(list_zip(s.subvec, c.cvec),
           t -> (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))
              * (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)))) AS d
  FROM subvecs s JOIN centroids c USING (m)
),
codes AS (
  SELECT vec_id, m, cidx AS code
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cidx) AS rn
        FROM assigned)
  WHERE rn = 1
),
qlut AS (
  SELECT s.m, c.cidx,
         list_sum(list_transform(list_zip(s.subvec, c.cvec),
           t -> (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))
              * (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE)))) AS lut_d
  FROM subvecs s JOIN centroids c USING (m)
  WHERE s.vec_id = 0
)
SELECT codes.vec_id AS vec_id, ROUND(sqrt(SUM(q.lut_d)), 6) AS dist
FROM codes JOIN qlut q ON codes.m = q.m AND codes.code = q.cidx
GROUP BY codes.vec_id
ORDER BY dist, vec_id
LIMIT {K}
"""


@register("pq_adc_knn", _PQ_ORACLE)
def pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8/Q9: PQ encode + ADC search with deterministic codebooks
    (centroids = subvector slices of vec_id 0..15)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    codebooks = Q.pq_subvectors(
        emb.filter(F.col("vec_id") < N_CENTROIDS), M_SUB, DIMS
    ).select(
        "m", F.col("vec_id").cast("int").alias("cidx"), F.col("subvec").alias("cvec")
    )
    codes = Q.pq_encode(emb, codebooks, M_SUB, DIMS)
    return Q.pq_adc_search(codes, codebooks, qvec, M_SUB, k=K)


# ---------------------------------------------------------------------------
# S7 codec fidelity: int8 symmetric roundtrip error per vector —
# encode (per-vector absmax/127 scale), decode, max |err|. Every op is
# an identical IEEE double expression tree in both engines (greatest-
# fold absmax is order-independent; round(x, 0) is half-away-from-zero
# in Spark AND DuckDB), so values hash-match at ROUND 6.
# ---------------------------------------------------------------------------

_INT8_ERR_ORACLE = """
WITH e AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS absmax
  FROM embeddings
),
s AS (
  SELECT e.vec_id,
         CASE WHEN e.absmax = 0 THEN 1.0 ELSE e.absmax / 127.0 END AS scale,
         m.embedding
  FROM e JOIN embeddings m ON e.vec_id = m.vec_id
)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       ROUND(list_max(list_transform(embedding,
         x -> abs(CAST(x AS DOUBLE)
                  - round(CAST(x AS DOUBLE) / scale, 0) * scale))), 6)
         AS max_abs_err
FROM s
ORDER BY vec_id
"""


@register("codec_int8_roundtrip_error", _INT8_ERR_ORACLE)
def codec_int8_roundtrip_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.when(absmax == 0, F.lit(1.0)).otherwise(absmax / 127.0)
    # the working column is NOT named "scale": aliasing the rounded
    # display value to the same name lets Catalyst's project-collapse
    # substitute the rounded scale into the error expression
    err = F.array_max(
        F.transform(
            F.col("embedding"),
            lambda x: F.abs(
                x.cast("double")
                - F.round(x.cast("double") / F.col("_scale"), 0)
                * F.col("_scale")
            ),
        )
    )
    return (
        emb.withColumn("_scale", scale)
        .select(
            "vec_id",
            F.round("_scale", 6).alias("scale"),
            F.round(err, 6).alias("max_abs_err"),
        )
        .orderBy("vec_id")
    )
