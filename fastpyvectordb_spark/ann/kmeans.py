"""One KMeans for every index: a driver trainer and a nearest-centroid
kernel.

Every centroid set in the package is trained by :func:`train` on a
bounded driver sample (:func:`fit_sample`): IVF coarse lists, IVF-PQ
lists and residual codebooks, the OPQ alternation, ``pq_train_kmeans``,
the collection index and the near-dup router's ``centroids="kmeans"``
mode. Every nearest-centroid assignment runs :func:`assign`, on the
driver directly and inside Spark through :func:`assign_col`.

- **Kernel.** Squared L2 argmin as a chunked GEMM: ``x @ (−2·cᵀ) + ‖c‖²``
  (``‖x‖²`` is constant per row and dropped). Scaling by −2 is exact in
  binary floating point, so folding it into the small centroid operand
  gives the same bits as scaling the scores, without a pass over them.
  The kernel computes in the input's dtype: the trainers and the
  serving pack pass f32 (argmin only needs order; means accumulate in
  f64), the Spark column form passes f64.
- **Seeding** is k-means|| (Bahmani et al., "Scalable K-Means++", VLDB
  2012), the seeding of MLlib's KMeans: one uniform row, two rounds
  that keep each row with probability ``min(1, 2k·cost/Σcost)``, the
  candidates weighted by the rows nearest to them, then weighted
  k-means++ and 30 weighted Lloyd passes over the candidates. On the
  perfbench collection (10K×128 around 16 centres, 64 lists, 3 passes,
  3 probes, five input seeds) it read IVF recall@10 0.95-0.99, MLlib's
  level, where k-means++ seeding read 0.83-0.91 and a random subset
  0.87-0.91. Its local step grows with k², so above
  ``_KMEANS_PARALLEL_MAX_WORK`` rows × k the seeds are a random subset.
- **Lloyd** passes assign with the kernel and average in f64 with one
  ``bincount`` per dimension; an empty cluster keeps its centroid.

Batched form: ``x`` of shape ``(M, n, sub)`` trains or assigns M
independent subspaces (PQ, OPQ) in one call, the coarse quantizer is
``(n, d)``. Subspace ``m`` seeds from ``RandomState(seed + m)``, so a
batched call equals a loop of single-subspace calls bit for bit.
"""

from __future__ import annotations

import threading

import numpy as np

# score floats one kernel chunk holds (8 MB f32): a chunk is
# ⌊budget / k⌋ rows, and each pool worker holds one chunk at a time
_SCORE_BUDGET = 1 << 21
# rows × k above which seeding is a seeded random subset instead of
# k-means||, whose candidate k-means++ costs O(k²·d): on 100K×64 rows
# (4-core host, one BLAS thread, pooled kernel) k-means|| seeding took
# 0.6 s at k = 316 and 4.8 s at k = 2,000, so at 1e9 (100K rows × 10K
# lists) it would take minutes
_KMEANS_PARALLEL_MAX_WORK = 1_000_000_000
# above this many centroid floats the per-row Catalyst argmin is slower
# than one Arrow batch through the kernel: the 1M-row spot check
# measured the 256-list codegen argmin at ~190 s/query against 4 s for
# the GEMM form, and the 64-list shape (4,096 floats) still paid ~11 s
_CODEGEN_MAX_CENTROID_FLOATS = 1024
_SEED_ROUNDS = 2
_SEED_LLOYD_PASSES = 30


def _pooled() -> bool:
    """Whether :func:`assign` may fan out on the driver pool: not inside
    a Spark task (the executor's cores already run one task each) and
    not on a pool thread (a task waiting on pool work can deadlock)."""
    from pyspark import TaskContext

    return TaskContext.get() is None and not (
        threading.current_thread().name.startswith("driver-pool")
    )


def assign(x: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Nearest centroid (squared L2, ties to the lower id) of every row:
    ``(n, d)`` rows against ``(k, d)`` centroids → ``(n,)`` int64, or
    ``(M, n, sub)`` against ``(M, k, sub)`` → ``(M, n)``. Computes in
    ``x``'s dtype. Chunks write disjoint slices with the serial loop's
    GEMM shapes, so pooled codes equal serial ones bit for bit."""
    batched = x.ndim == 3
    x3 = x if batched else x[None]
    c3 = np.asarray(centroids)
    c3 = c3 if batched else c3[None]
    m_sub, n, _ = x3.shape
    chunk = max(1, _SCORE_BUDGET // max(c3.shape[1], 1))
    ct2, csq = [], []
    for m in range(m_sub):
        c = c3[m].astype(x3.dtype)
        csq.append(np.einsum("ij,ij->i", c, c))
        t = np.ascontiguousarray(c.T)
        t *= -2.0
        ct2.append(t)
    codes = np.empty((m_sub, n), dtype=np.int64)

    def run(task: tuple[int, int]) -> None:
        m, s = task
        sc = x3[m, s:s + chunk] @ ct2[m]
        sc += csq[m]
        codes[m, s:s + chunk] = sc.argmin(1)

    tasks = [(m, s) for m in range(m_sub) for s in range(0, n, chunk)]
    if len(tasks) > 1 and _pooled():
        from fastpyvectordb_spark.session import driver_pool

        list(driver_pool().map(run, tasks))
    else:
        for t in tasks:
            run(t)
    return codes if batched else codes[0]


def _lloyd_update(
    cents: np.ndarray, x: np.ndarray, codes: np.ndarray, w=None
) -> None:
    """In-place (weighted) means of the rows each centroid owns; a
    centroid that owns nothing keeps its value."""
    k = len(cents)
    cnt = np.bincount(codes, weights=w, minlength=k)
    acc = np.stack(
        [
            np.bincount(
                codes, weights=x[:, j] if w is None else w * x[:, j],
                minlength=k,
            )
            for j in range(x.shape[1])
        ],
        axis=1,
    )
    nz = cnt > 0
    cents[nz] = acc[nz] / cnt[nz][:, None]


def _kmeanspp(
    xs: np.ndarray, k: int, r: np.random.RandomState, w=None
) -> np.ndarray:
    """(Weighted) k-means++ seeding (Arthur & Vassilvitskii 2007): each
    next centroid is a row drawn with probability ∝ weight × squared
    distance to the nearest centroid so far. With fewer distinct rows
    than ``k`` the rest are drawn uniformly, so it always returns k."""
    n = len(xs)
    w = np.ones(n) if w is None else w
    cents = np.empty((k, xs.shape[1]), dtype=np.float64)
    cents[0] = xs[r.choice(n, p=w / w.sum())]
    diff = xs - cents[0]
    d2 = np.einsum("ij,ij->i", diff, diff)
    for j in range(1, k):
        p = d2 * w
        tot = p.sum()
        if tot <= 0:
            cents[j:] = xs[r.choice(n, k - j)]
            break
        cents[j] = xs[r.choice(n, p=p / tot)]
        diff = xs - cents[j]
        d2 = np.minimum(d2, np.einsum("ij,ij->i", diff, diff))
    return cents


def _seed(
    x: np.ndarray, x32: np.ndarray, k: int, r: np.random.RandomState
) -> np.ndarray:
    """``k`` initial centroids of one subspace: k-means||, or a random
    subset above ``_KMEANS_PARALLEL_MAX_WORK``."""
    n = len(x)
    if n * k > _KMEANS_PARALLEL_MAX_WORK:
        return x[r.choice(n, size=k, replace=False)].copy()
    cands = new = np.array([r.randint(n)])
    cost = np.full(n, np.inf)
    for _ in range(_SEED_ROUNDS):
        if not len(new):
            break
        diff = x - x[new][assign(x32, x[new])]
        cost = np.minimum(cost, np.einsum("ij,ij->i", diff, diff))
        tot = cost.sum()
        if tot <= 0:
            break
        new = np.flatnonzero(r.random_sample(n) < 2.0 * k * cost / tot)
        cands = np.concatenate([cands, new])
    if len(cands) < k:
        # too few candidates to choose k from: plain k-means++ over
        # every row (each row then stands for itself)
        cands, w = np.arange(n), np.ones(n)
    else:
        w = np.bincount(
            assign(x32, x[cands]), minlength=len(cands)
        ).astype(np.float64)
    xc, xc32 = x[cands], x32[cands]
    cents = _kmeanspp(xc, k, r, w)
    for _ in range(_SEED_LLOYD_PASSES):
        _lloyd_update(cents, xc, assign(xc32, cents), w)
    return cents


def train(
    x: np.ndarray,
    k: int,
    iters: int,
    seed: int,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """KMeans on a driver sample: ``(n, d)`` → ``(min(k, n), d)``
    centroids, or ``(M, n, sub)`` → ``(M, min(k, n), sub)``. Seeds with
    k-means|| (``init`` warm-starts from given centroids instead), then
    runs ``iters`` Lloyd passes. Deterministic for a fixed sample and
    seed."""
    batched = x.ndim == 3
    x3 = np.ascontiguousarray(x if batched else x[None], dtype=np.float64)
    m_sub, n, d = x3.shape
    k = min(k, n)
    if k == 0:  # empty sample: a collection with every row deleted
        return np.empty((m_sub, 0, d) if batched else (0, d))
    x32 = np.ascontiguousarray(x3, dtype=np.float32)
    if init is not None:
        cents = np.array(init if batched else init[None], dtype=np.float64)
    else:
        cents = np.stack(
            [
                _seed(x3[m], x32[m], k, np.random.RandomState(seed + m))
                for m in range(m_sub)
            ]
        )
    for _ in range(iters):
        codes = assign(x32, cents)
        for m in range(m_sub):
            _lloyd_update(cents[m], x3[m], codes[m])
    return cents if batched else cents[0]


def fit_sample(
    df,
    col: str,
    k: int,
    seed: int,
    n_rows: int | None = None,
    train_rows: int | None = None,
) -> np.ndarray:
    """Bounded f64 training sample of ``df[col]`` in one ``toArrow``:
    at most ``train_rows`` rows, else ``max(256·k, 100_000)`` (the
    FAISS rule of ~256 points per centroid), so a huge table is never
    collected whole. Counts the rows only when ``n_rows`` is None. The
    result can be a read-only view of the Arrow buffer."""
    from pyspark.sql import functions as F

    cap = train_rows or max(256 * k, 100_000)
    if n_rows is None:
        n_rows = df.count()
    sel = df.select(F.col(col).cast("array<double>").alias("_v"))
    if n_rows > cap:
        sel = sel.sample(
            fraction=min(1.0, cap * 1.1 / n_rows), seed=seed
        ).limit(cap)
    v = sel.toArrow()["_v"].combine_chunks()
    if not len(v):
        return np.empty((0, 0))
    return np.asarray(v.flatten(), dtype=np.float64).reshape(len(v), -1)


def assign_col(col, centroids: np.ndarray):
    """Nearest-centroid list id as an int Spark column: a pure-codegen
    expression for up to ``_CODEGEN_MAX_CENTROID_FLOATS`` centroid
    floats (zero Python), above that an Arrow ``pandas_udf`` running
    :func:`assign` in f64. Both take the L2 argmin with ties to the
    lower id; the GEMM rounds ``v·v − 2v·c + c·c`` where the expression
    sums ``Σ(v−c)²``, which can flip only exact Voronoi-boundary ties."""
    if centroids.size > _CODEGEN_MAX_CENTROID_FLOATS:
        return _assign_udf(centroids)(col)
    return _list_id_expr(col, centroids)


def _assign_udf(centroids: np.ndarray):
    """The ``pandas_udf`` arm of :func:`assign_col`: one f64
    :func:`assign` per Arrow batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c64 = np.ascontiguousarray(centroids, dtype=np.float64)

    def lid(v):
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        vm = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        return pd.Series(assign(vm, c64).astype(np.int32))

    # real annotation objects: the module uses `from __future__ import
    # annotations`, and PySpark's hint inference can't resolve
    # stringified locals
    lid.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(lid, "int")


def _list_id_expr(col, centroids: np.ndarray):
    """The codegen arm of :func:`assign_col`: nearest-centroid id over
    LITERAL centroids (L2 argmin, ties to the lower id), evaluated
    inside the scan with zero joins and zero shuffles. Folded in
    64-centroid chunks so each expression tree stays modest (struct
    ``least`` compares (d², cid) lexicographically)."""
    from pyspark.sql import functions as F

    structs = []
    for cid, c in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in c])
        d2 = F.aggregate(
            F.zip_with(
                col.cast("array<double>"), lit, lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(F.struct(d2.alias("d"), F.lit(cid).alias("cid")))
    best = None
    for lo in range(0, len(structs), 64):
        m = F.array_min(F.array(*structs[lo:lo + 64]))
        best = m if best is None else F.least(best, m)
    return best["cid"]
