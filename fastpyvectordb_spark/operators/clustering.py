"""Nearest-centroid assignment (document / embedding clustering).

The KMeans trainer (``ann/kmeans.py``, used by every index) trains
centroids iteratively; this module is the *assignment* operator —
given any centroid table (trained, sampled, or fixed), bucket every
vector to its nearest centroid. That's the building block for
topic-bucketing / mixture control over a training corpus, and it is
exactly the IVF list-assignment step, factored out so it can be
oracle-checked: with deterministic centroids the whole operator is
SQL-expressible and the DuckDB twin verifies it hash-for-hash.

Scale shape: centroids broadcast (k rows); cost is one pass computing
N×k codegen distance expressions, then one map-side-combinable
``groupBy(vec_id).min(struct(dist, centroid_id))`` — the lexicographic
struct-min IS argmin-with-tie-break, no window shuffle. At 100 TB this
is embarrassingly parallel: no shuffle moves vector data, only the
(id, dist, centroid) triple.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastpyvectordb_spark.functions.distances import distance


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    round_digits: int = 6,
) -> DataFrame:
    """→ (vec_id, centroid_id, dist). Nearest centroid per vector;
    ties (equal rounded distance) break toward the lower centroid id.

    ``dist`` is rounded to ``round_digits`` BEFORE the argmin so the
    tie-break is well-defined cross-engine: the sequential-double
    distance fold is bit-identical in Spark and the DuckDB oracle, so
    rounded values — and therefore ties — agree exactly."""
    cents = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("_cid"),
            F.col(centroid_vec_col).alias("_cvec"),
        )
    )
    d = F.round(
        distance(F.col(vec_col), F.col("_cvec"), metric), round_digits
    )
    scored = vectors.crossJoin(cents).select(
        F.col(id_col).alias("vec_id"),
        F.col("_cid").alias("centroid_id"),
        d.alias("dist"),
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "centroid_id")).alias("m"))
        .select(
            "vec_id",
            F.col("m.centroid_id").alias("centroid_id"),
            F.col("m.dist").alias("dist"),
        )
    )
    return best


def cluster_profile(assigned: DataFrame) -> DataFrame:
    """→ (centroid_id, n_members, sum_dist_micros). Cluster sizes plus
    total within-cluster distance as an *integer* micro-unit sum
    (``floor(dist·1e6 + 0.5)``) so aggregation order can't perturb the
    value — the same exact-cents discipline the revenue queries use."""
    micros = F.floor(F.col("dist") * 1e6 + F.lit(0.5)).cast("long")
    return (
        assigned.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(micros).alias("sum_dist_micros"),
        )
        .orderBy("centroid_id")
    )


def duckdb_assign_cte(
    vectors_table: str,
    centroids_sql: str,
    metric_sql_fn,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> str:
    """CTE ``assigned(vec_id, centroid_id, dist)`` — the identical
    argmin-with-tie-break in DuckDB. ``centroids_sql`` must be a
    subquery yielding (centroid_id, centroid_vec); ``metric_sql_fn``
    maps two list-expr strings to the distance SQL (the shared
    ``duckdb_distance`` fragment)."""
    dist_sql = metric_sql_fn(f"v.{vec_col}", "c.centroid_vec")
    return f"""
_scored AS (
  SELECT v.{id_col} AS vec_id, c.centroid_id,
         round({dist_sql}, {round_digits}) AS dist
  FROM {vectors_table} v CROSS JOIN ({centroids_sql}) c
),
assigned AS (
  SELECT vec_id, centroid_id, dist
  FROM _scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, centroid_id) = 1
)"""
