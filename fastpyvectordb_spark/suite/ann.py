"""ANN suite queries — driver-facing EXHAUSTIVE variants with exact
DuckDB oracles.

Each query runs its ANN operator at full probe width (``nprobe =
n_lists`` / all LSH buckets / full refine), where the probed search is
provably equal to the exact scan (tests/test_ann.py,
tests/test_collection_ann.py pin this), so the driver can hash-compare
it against the exact-kNN SQL twin. The APPROXIMATE operating points
(reduced nprobe/multiprobe/refine) stay recall-gated in tests/test_ann.py,
mirroring the reference's own methodology (quantization.py:691-703) —
the driver row proves the operator's plumbing and exact limit, pytest
proves its recall/speed trade-off.

Searches that rank float32 artifacts (the IVF batch kernel and the
driver-resident IVF pack) or quantized codes (IVF-PQ) over-fetch
candidates and exact-rerank through :func:`operators.knn.knn` — the
reference's own coarse→rerank shape (K9) — so every emitted distance
is the same rounded Catalyst expression the green ``knn_*`` oracles
already match bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastpyvectordb_spark.ann.ivf import (
    ivf_build,
    ivf_pack,
    ivf_search,
    ivf_search_batch,
    ivf_search_local,
)
from fastpyvectordb_spark.ann.lsh import add_signatures, hyperplanes, lsh_knn
from fastpyvectordb_spark.functions.distances import duckdb_distance
from fastpyvectordb_spark.operators.knn import knn
from fastpyvectordb_spark.suite import register
from fastpyvectordb_spark.tables import load_table

K = 10
# candidate over-fetch before the exact rerank: float32 artifact wobble
# is ~1e-7, the rank-10→rank-50 distance gap on the synthetic
# embeddings is orders of magnitude wider
FETCH = 50


def _exact_oracle(metric: str) -> str:
    d = duckdb_distance("e.embedding", "q.qvec", metric)
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id AS vec_id, ROUND({d}, 6) AS dist
FROM embeddings e CROSS JOIN q
ORDER BY dist, vec_id
LIMIT {K}
"""


def _qvec(emb: DataFrame):
    return emb.filter(F.col("vec_id") == 0).head()["embedding"]


def _qpdf(qvec) -> pd.DataFrame:
    return pd.DataFrame({"query_id": [0], "query_vec": [list(qvec)]})


def _rerank(emb: DataFrame, cand: DataFrame, qvec, metric: str = "cosine"):
    """Exact rerank of ANN candidate ids: the (bounded, ~FETCH-row)
    candidate set joins back to the raw vectors and goes through the
    SAME rounded distance expression + (dist, id) ordering as the
    exact ``knn`` plan — so values are hash-identical to the oracle
    whenever the candidates contain the true top-k."""
    return knn(
        emb.join(
            F.broadcast(cand.select("vec_id").distinct()), "vec_id"
        ),
        qvec, k=K, metric=metric,
    )


@register("ann_ivf_knn", _exact_oracle("cosine"))
def ann_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(32 lists) cosine top-10 at nprobe = n_lists: every list is
    probed, so the candidate set is the whole table and the result is
    the exact scan by construction (assignment is total — each row has
    exactly one nearest centroid). Approximate points (nprobe=8 etc.)
    are recall-gated in tests/test_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(emb)
    index = ivf_build(emb, n_lists=32)
    return ivf_search(index, qvec, k=K, nprobe=32)


@register("ann_lsh_knn", _exact_oracle("cosine"))
def ann_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH (6 bits) cosine top-10 probing ALL 64 buckets —
    the exhaustive limit of multiprobe (bucket pruning prunes nothing,
    the rerank is the exact scan). Reduced-multiprobe recall is gated
    in tests/test_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(emb)
    planes = hyperplanes(64, n_bits=6, seed=42)
    signed = add_signatures(emb, planes)
    return lsh_knn(signed, qvec, planes, k=K, multiprobe=64)


@register("ann_ivfpq_knn", _exact_oracle("l2"))
def ann_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (8 lists, M=8, K=16) ADC search at nprobe = n_lists with
    a FULL exact refine (refine = N): every row's ADC estimate is
    replaced by its true L2 distance, so the result equals the exact
    L2 scan regardless of code quality — the driver row pins the
    coarse→ADC→refine plumbing end-to-end. The production operating
    point (refine = 50) is recall-gated in tests/test_ann.py. The
    refine join emits unrounded L2, so candidates over-fetch and the
    shared rounded-knn rerank produces the oracle-comparable values."""
    from fastpyvectordb_spark.ann.ivfpq import ivfpq_build, ivfpq_search

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(emb)
    n = emb.count()
    index = ivfpq_build(emb, n_lists=8, m_subspaces=8, n_centroids=16,
                        max_iter=20)
    cand = ivfpq_search(
        index, qvec, k=min(FETCH, n), nprobe=8, refine_df=emb, refine=n
    )
    return _rerank(emb, cand, qvec, metric="l2")


@register("ann_ivf_batch_knn", _exact_oracle("cosine"))
def ann_ivf_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(16 lists) batch search (one GEMM per probed list over the
    list-colocated table, global (dist, id) merge) at nprobe = n_lists
    feeding the exact rerank: every list is scanned, so the float32
    candidates contain the true top-k and the emitted distances are
    exact. Reduced-probe recall is gated in tests/test_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(emb)
    index = ivf_build(emb, n_lists=16).colocate()
    cand = ivf_search_batch(index, _qpdf(qvec), k=FETCH, nprobe=16)
    return _rerank(emb, cand, qvec)


@register("ann_ivf_local_knn", _exact_oracle("cosine"))
def ann_ivf_local_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(16 lists) search over the driver-resident pack (the serving
    kernel behind ``Collection.search_ann``) at nprobe = n_lists: its
    float32 candidate ids feed the exact rerank, so the emitted
    distances are oracle-comparable. Reduced-probe recall is gated in
    tests/test_ann.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = _qvec(emb)
    packed = ivf_pack(ivf_build(emb, n_lists=16))
    res = ivf_search_local(packed, _qpdf(qvec), k=FETCH, nprobe=16)
    cand = spark.createDataFrame(res[["vec_id"]])
    return _rerank(emb, cand, qvec)
